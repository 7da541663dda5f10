package graft.varda

import graft.util.Ckpt
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one incremental frequency state (round-8, compressed and
  * hardened round-9): every import batch, and every sample retraction,
  * folds into durable, bucket-partitioned, generational parquet stores,
  * and serving reads the stores alone. This is the reference's actual
  * continuous-import surface [U varda/tasks.py :: import_variation /
  * import_coverage, varda/models.py :: Sample.active]: imports arrive
  * forever, served state must never rescan import history, and a
  * restart must lose nothing.
  *
  * Layout — one directory per generation, one dynamic-partition leaf per
  * (component, bucket):
  *
  * {{{
  *   dir/gen-<b>/comp=numer/bkt=<k>/part-*.parquet   merge store (overlay)
  *   dir/gen-<b>/comp=denom/bkt=<k>/...              merge store (overlay)
  *   dir/gen-<b>/comp=cover/bkt=<k>/...              merge store (overlay)
  *   dir/gen-<b>/comp=pts/bkt=<k>/...                append store (delta)
  *   dir/gen-<b>/comp=obslog/bkt=<k>/...             append store (+/- rows)
  *   dir/gen-<b>/comp=smpreg/bkt=0/...               append store (+/- rows)
  *   dir/gen-<b>.<v>/...                             snapshot (v >= 1)
  *   dir/_commits/gen-<b>[.<v>]                      commit log
  *                                  (content: "nBuckets uncovPool")
  * }}}
  *
  * The coverage-less sample pool — one scalar — rides in each commit
  * marker instead of a 1-row parquet component: the log is already the
  * atomic commit point, so the scalar is exactly as durable, and serve
  * reads it for free.
  *
  * **A commit is three levels** (round-9): one manifest `collect` over
  * the RAW batch (O(batch-samples) rows, each a sample's touched-bucket
  * set — the transaction-log planner computation; raw is enough because
  * dedup and fragment-merging never change which buckets a batch
  * touches), one job materializing every
  * lineage-truncated intermediate (batch checkpoint, fragment merge,
  * new-point anti-join, coverage subtraction), then the component
  * writes running CONCURRENTLY. A single union write job with a
  * `partitionBy(comp, bkt)` tag was built and A/B-measured first — it
  * LOST: one job serializes all driver-side planning/codegen and
  * chains every branch into one DAG, while independent per-component
  * jobs overlap both (SURVEY §6). The round-8 full-outer merge folds
  * are also gone — combining keyed partial sums is a union + ONE hash
  * aggregate, and the three denominator containment joins fused into
  * one tagged join (`p_new OR f_new` selects exactly the pairs first
  * counted this commit).
  *
  * Every store is partitioned by ONE shared bucket function,
  * `pmod(hash(position >> 11), nBuckets)` (layout v2, round 12 — see
  * [[FreqStore.bktOf]] for why the chromosome left the hash): point
  * rows bucket by their own position's 2^11 cell, coverage rows are
  * clipped into one FRAGMENT per covered cell (the in-path bin
  * assignment) and bucket by the fragment's cell. Sharing the function
  * is what makes every fold read PRUNED: a batch's points and regions
  * determine, on the driver, exactly which buckets the fold can touch,
  * and both the previous-state reads and the containment probes open
  * only those buckets' files. [[lookup]] exposes the serving-side
  * payoff: a point query evaluates the same hash on the driver and
  * opens ONE bucket directory — and since layout v2 a RANGE query
  * enumerates its cells and does the same ([[lookupRange]]).
  *
  * **The commit log carries the bucket modulus.** Each marker
  * `_commits/gen-<b>[.<v>]` records the nBuckets its generation was
  * written with; an existing store's effective modulus is read BACK
  * from the log (the constructor's `nBuckets` only seeds a new store),
  * so reopening a store with a different constructor value can no
  * longer mis-prune reads — and [[compact]] can legally SPLIT buckets:
  * a snapshot consolidates every live generation into one, so it may
  * rewrite under a doubled modulus (recorded in its marker) without any
  * mixed-modulus window. All live markers sharing one modulus is an
  * asserted invariant.
  *
  * **Snapshots are versioned, never in-place** (round-9, closing the
  * round-8 crash window): [[compact]] writes its snapshot to a NEW
  * directory `gen-<maxGen>.<v+1>`, marks it committed only after the
  * write completes, and only then deletes superseded generations. A
  * crash anywhere leaves either the old generations fully readable (new
  * marker absent) or the snapshot readable (marker present — readers
  * resolve each generation id to its highest committed version, and a
  * committed snapshot FLOORS the log: generations below it are ignored
  * even if their files still exist). No reader ever sees a
  * half-deleted store.
  *
  * **The coverage store holds MERGED, per-cell-clipped fragments** —
  * for each (sample, chromosome, 2^11 cell), a disjoint set of
  * intervals. That invariant carries the whole design:
  *
  *  - a point matches each covering sample AT MOST ONCE, so the
  *    denominator fold needs no pair-level `distinct`,
  *  - "what does this batch newly cover" is per-cell interval
  *    SUBTRACTION (batch \ store) — batch-sized work,
  *  - clipping at cell boundaries makes merging strictly LOCAL to a
  *    bucket, so commits still rewrite only touched buckets.
  *
  * **The obslog and smpreg components retain sample-tagged
  * observations and sample registrations** (the reference's Observation
  * and Sample tables [U varda/models.py] — round-9): append stores of
  * (variant, sample_id, ±support) and (sample_id, ±pool_size,
  * has_coverage) rows, which make sample deactivation self-contained
  * AND idempotent: [[retractSamples]] reads the samples' net
  * observations and net registrations off the store, applies the
  * negative folds (the coverage-less pool subtracts the REGISTRY net,
  * never the caller's claimed pool), and appends NEGATED tombstone rows
  * — so a repeated retraction nets to zero everywhere and a re-import
  * restores cleanly. Compaction collapses tombstones away. Two tiny
  * sample→bucket registries (round-11) keep retraction reads pruned:
  * covidx (cover buckets) and obsidx (obslog point buckets), each
  * appended per commit as rows decoded from the manifest collect (no
  * extra job) and rewritten exactly at compaction — so deactivation
  * reads only the retracted samples' buckets of the store's two
  * largest components, never their full history.
  *
  * **Commits are O(batch), not O(store)**: a generation directory holds
  * only the buckets the batch touched — merged bucket content for the
  * merge stores (numer, denom, cover), the batch's delta rows for the
  * append stores (pts, obslog). Untouched buckets are simply absent and
  * their older files are never rewritten (FreqStoreSpec pins the
  * file-mtime claim). Readers compose "newest generation per bucket"
  * for merge stores and "union of all generations" for append stores.
  *
  * **Replay-idempotent**: batch `b` reads only generations `< b` and
  * overwrites `gen-b` — a pure function of (prior generations, batch
  * content), so a batch replayed after a crash (foreachBatch is
  * at-least-once) rewrites the same generation instead of
  * double-counting.
  *
  * Concurrency contract: ONE writer process; readers in the same
  * process by default. Since round-12 the contract is ENFORCED, not
  * conventional: every mutating operation (commit, retract, compact)
  * holds the store's `_writer.lock` for its duration, so a second
  * writer fails fast with a clear message instead of interleaving
  * generation writes (see [[breakLock]] for crash recovery). [[compact]]'s delete phase removes superseded
  * generation directories, so a cross-process reader holding an
  * already-planned DataFrame over the old file listing could hit
  * FileNotFoundException mid-scan — `compact(retainGens = k)`
  * (round-10) is the retention grace that closes this: the newest k
  * superseded generations survive each sweep (invisible to new reads —
  * the snapshot still floors the log — but their files stay for
  * readers that listed them), and later sweeps age them out. Size k to
  * the serving fleet's maximum query lifetime over the compaction
  * cadence. One cross-WAVE caveat for the streamed ingest: a replayed
  * import+retraction wave withdraws both its markers up front
  * ([[unmarkGeneration]]), so readers never pair a retraction's folds
  * with pre-import bucket content.
  *
  * Semantics MATCH the one-shot [[VardaOps.frequencyFrom]] — a
  * sample's overlapping regions arriving in any batch order still
  * count each covered point once — and FreqStoreSpec replays
  * adversarial and randomized interleavings against it.
  */
class FreqStore(spark: SparkSession, dir: String, nBuckets: Int = 16) {
  import FreqStore._

  /** The shared bucket function, SINGLE-COLUMN since round 12:
    * `pmod(hash(cell), n)` with cell = position >> 11. The chromosome
    * used to ride in the hash; it added nothing to bucket uniformity
    * (cells are uniform under Murmur3 regardless) and its removal buys
    * two things a two-column hash cannot express: (a) Spark's
    * storage-partitioned planning — catalyst KeyGroupedPartitioning
    * only supports single-argument transforms, so the catalog table's
    * `point_bucket_<n>(position)` now resolves and point-key
    * aggregations/joins plan exchange-free ([[graft.sources.FreqStoreCatalog]]);
    * (b) driver-side RANGE pruning — a range names its cells, so
    * [[lookupRange]] can enumerate their buckets and open only those
    * directories, which the chromosome-mixed hash made impossible.
    * Markers carry a LAYOUT VERSION so a store written under the old
    * hash fails loudly instead of silently mispruning. */
  private def bktOf(cell: Column, n: Int): Column =
    pmod(hash(cell), lit(n))
  private def pointBkt(n: Int): Column =
    bktOf(shiftright(col("position"), CellShift), n)

  /** The manifest's (sample, bucket) registry encoding requires sane
    * sample ids: a NULL coverage sample or any negative id would
    * silently key the registry — and through it the cover overlay's
    * touched-bucket set — to the WRONG bucket (round-11 ADVICE: NULL
    * packed to NULL, `getLong` unboxed it to 0, and the true bucket's
    * overlay was rewritten from batch fragments alone). Fail the commit
    * loudly instead. */
  private def guardedSid(c: Column, what: String): Column =
    when(c.isNotNull && c >= 0, c.cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"freqstore: $what sample_id must be non-null and >= 0 " +
          "(it keys the manifest's sample->bucket registries); got "),
        coalesce(c.cast(StringType), lit("NULL")))))
  /** Observation rows may be UNTAGGED (no sample — not retractable by
    * sample later): NULL maps to tag 0, real ids to id+1, negatives
    * fail loudly (they would corrupt the tag's decode). */
  private def obsTag(sid: Column): Column =
    when(sid.isNull, lit(0L)).otherwise(guardedSid(sid, "observation") + 1L)
  /** Every 2^11 cell the [begin, end] interval touches. */
  private def cellSeq: Column = sequence(
    shiftright(col("begin_pos"), CellShift), shiftright(col("end_pos"), CellShift))

  /** Fold one import batch into the committed stores. `obsB0` carries
    * (chromosome, position, reference, observed, support) and — when
    * present — sample_id (retained in the obslog store; without it the
    * batch's observations cannot later be retracted by sample). `covB`
    * is the BED-shaped (chromosome, begin_pos, end_pos, sample_id,
    * pool_size), `smpB` the (sample_id, pool_size, has_coverage) sample
    * rows. `pool_size` is a per-sample constant denormalized onto
    * coverage rows (the import pipeline's invariant). */
  def commit(batchId: Long, obsB0: DataFrame, covB: DataFrame,
      smpB: DataFrame): Unit =
    commitPrepared(prepare(batchId, obsB0, covB, smpB))

  /** The batch-only HALF of a commit: checkpoint materialization and
    * the manifest collect, both started asynchronously — neither reads
    * the store, so consecutive batches' prepare phases can run
    * CONCURRENTLY while earlier commits write (the replay harness
    * prepares every batch up front; at-least-once replays stay correct
    * because [[commitPrepared]] alone touches store state). The handle
    * must be finished with [[commitPrepared]] on the SAME store, in
    * batch order. */
  private[graft] case class PreparedCommit(
      batchId: Long, n: Int, obsB: () => DataFrame, covF: () => DataFrame,
      obsPts: () => DataFrame, smpB: DataFrame,
      manifestF: scala.concurrent.Future[Array[org.apache.spark.sql.Row]],
      matF: scala.concurrent.Future[Unit])

  private[graft] def prepare(batchId: Long, obsB0: DataFrame, covB: DataFrame,
      smpB: DataFrame): PreparedCommit = {
    val n = nBkts
    val sid = if (obsB0.columns.contains("sample_id"))
      col("sample_id").cast(LongType) else lit(null).cast(LongType)

    // persist the batch ONCE: every downstream write job reads the
    // materialized blocks instead of re-deriving the batch from its
    // source plan. persist(), NOT localCheckpoint (round-12): lazily
    // materializing a checkpoint from concurrent job threads deadlocks
    // against the DAG scheduler — RDDCheckpointData.checkpoint holds
    // the global RDDCheckpointData companion lock while taking the RDD
    // monitor, and the scheduler planning a sibling job over the SAME
    // shared frame holds that RDD monitor while reading checkpointRDD
    // under the companion lock (JVM-reported deadlock, caught live in a
    // round-12 single-key timing run). Cached blocks give the same compute-once sharing
    // through the BlockManager's per-block locks with no global
    // transition — and recompute on block loss instead of failing the
    // job, which is what a 1000-executor deployment wants anyway. All
    // three are LAZY vals so even their construction (analysis) happens
    // on the materialize thread, concurrent with the manifest collect;
    // commitPrepared unpersists after the marker so a forever-running
    // ingest loop cannot grow the cache unboundedly.
    lazy val obsB = obsB0.select(col("chromosome"), col("position"),
        col("reference"), col("observed"),
        col("support").cast(LongType).as("support"), sid.as("sample_id"))
      .persist()
    // in-path bin assignment + CELL CLIPPING: one fragment row per
    // covered 2^11 cell, clipped to the cell's range — then merged
    // per (sample, chromosome, cell) so batch-internal overlaps
    // collapse before they meet the store
    lazy val covF = mergeFragments(covB.select(col("chromosome"),
        explode(cellSeq).as("cell"),
        col("begin_pos"), col("end_pos"), col("sample_id"), col("pool_size"))
      .select(col("chromosome"), col("cell"),
        greatest(col("begin_pos"), col("cell") * CellSize).as("fbegin"),
        least(col("end_pos"), col("cell") * CellSize + (CellSize - 1)).as("fend"),
        col("sample_id"), col("pool_size")))
      .persist()
    // distinct points, bucketized UP FRONT: the one exchange (on bkt)
    // serves the distinct, the new-point anti-join, and the pts write —
    // bkt rides as a column and every downstream key set includes it
    lazy val obsPts = bucketize(obsB.select("chromosome", "position"),
        pointBkt(n), n).distinct()
      .persist()

    // the commit manifest (which buckets can this batch touch, plus the
    // batch's coverage-less pool delta): ONE driver job over the RAW
    // batch. Raw is enough — a point set and its distinct projection
    // hit the same buckets, and merging coverage fragments never
    // changes which cells they touch. Rows are AGGREGATED to one per
    // (kind, sample) carrying that sample's touched-bucket SET
    // (round-11 ADVICE: the packed-pair form collected O(batch-samples
    // × nBuckets) rows; this collects O(batch-samples) rows, each
    // bounded by nBuckets ints). kind 0 = observation tag (sample_id+1,
    // 0 = untagged) → numerator buckets + obsidx; kind 1 = coverage
    // sample → cover buckets + covidx; kind 2 rides the pool delta in
    // the LONG key column (an Int would silently wrap on a large
    // batch's coverage-less pool sum). The collect OVERLAPS the
    // checkpoint-materialize job (round-10): neither depends on the
    // other, so the manifest's stage levels hide under the
    // materialization instead of preceding it.
    val manifestF = inPool("freq-manifest") { () =>
      obsB0
        .select(obsTag(sid).as("sid"),
          pointBkt(n).cast(IntegerType).as("bkt"), lit(0).as("kind"))
        .unionByName(covB.select(explode(cellSeq).as("cell"),
            col("chromosome"), col("sample_id"))
          .select(guardedSid(col("sample_id"), "coverage").as("sid"),
            bktOf(col("cell"), n)
              .cast(IntegerType).as("bkt"),
            lit(1).as("kind")))
        .groupBy("kind", "sid")
        .agg(collect_set(col("bkt")).as("bkts"))
        .unionByName(smpB.filter(!col("has_coverage"))
          .agg(lit(2).as("kind"),
            coalesce(sum(col("pool_size")), lit(0)).cast(LongType).as("sid"),
            typedLit(Seq.empty[Int]).as("bkts")))
        .collect()
    }
    // materialize the batch-only checkpoints while the manifest runs
    // (obsPts pulls obsB through; covF is independent). NOT awaited
    // before the writes: a write thread needing a block another thread
    // is computing BLOCKS on that block and reuses it (BlockManager
    // per-block locks), so the write phase overlaps the tail of the
    // materialization instead of queueing behind it.
    val matF = inPool("freq-mat") { () =>
      obsPts.select(lit(1).as("one"))
        .unionByName(covF.select(lit(1).as("one"))).count(); () }
    // thunks, not the frames (round-10 ADVICE): a strict field would
    // force the lazy vals — i.e. block on their ANALYSIS — on this
    // thread before prepare() returns; the thunks hand the same
    // lazily-cached objects to whichever thread needs them first
    PreparedCommit(batchId, n, () => obsB, () => covF, () => obsPts, smpB,
      manifestF, matF)
  }

  /** The store-dependent HALF of a commit: resolve the manifest, read
    * the previous generations, fold, write, mark. */
  private[graft] def commitPrepared(prep: PreparedCommit): Unit =
    withWriterLock(s"commit batch ${prep.batchId}")(commitPreparedLocked(prep))

  /** Append one generation under the NEXT id from the log, the id
    * chosen UNDER the writer lock — an appender that computed `max+1`
    * before locking could otherwise silently OVERWRITE a generation
    * another appender committed in between (two session threads, or a
    * second process whose log read went stale). Under the lock, a
    * concurrent appender fails fast at acquisition and a sequential
    * one sees the first's marker. prepare() runs inside the lock too:
    * correctness over concurrency here — appends are the SQL INSERT
    * surface, not the bulk-import path (which names its ids). */
  private[graft] def appendGeneration(obsB: DataFrame, covB: DataFrame,
      smpB: DataFrame): Long = withWriterLock("append generation") {
    // drop the instance log cache UNDER the lock: a pre-lock read (any
    // earlier serve/lookup on this instance) could be stale against a
    // generation another writer committed since — max+1 off that cache
    // would overwrite it, the exact bug this lock exists to prevent
    logCache = None
    val gen = generations.map(_._1).maxOption.fold(0L)(_ + 1L)
    commitPreparedLocked(prepare(gen, obsB, covB, smpB))
    gen
  }

  private def commitPreparedLocked(prep: PreparedCommit): Unit = {
    val PreparedCommit(batchId, n, obsBT, covFT, obsPtsT, smpB, manifestF,
      matF) = prep
    // deref the prepare-side lazy vals here: every use below sits inside
    // a def/lazy thunk, so analysis still happens on the thread that
    // first needs each frame
    def obsB = obsBT(); def covF = covFT(); def obsPts = obsPtsT()
    try {
    require(n == nBkts,
      s"bucket modulus changed between prepare ($n) and commit ($nBkts) — " +
        "do not compact between the two phases")
    val manifest = scala.concurrent.Await.result(
      manifestF, scala.concurrent.duration.Duration.Inf)
    // kind-0/1 rows carry (sample tag/id, touched-bucket set): the
    // flattened sets are the fold's pruning sets, the per-sample rows
    // the obsidx/covidx registry appends
    val obsSets = manifest.filter(_.getInt(0) == 0)
      .map(r => (r.getLong(1), r.getSeq[Int](2)))
    val oBkts = obsSets.flatMap(_._2).toSet
    val covSets = manifest.filter(_.getInt(0) == 1)
      .map(r => (r.getLong(1), r.getSeq[Int](2)))
    val cBkts = covSets.flatMap(_._2).toSet
    val uncovDelta = manifest.filter(_.getInt(0) == 2).map(_.getLong(1)).sum

    // Everything below is LAZY (round-10): the component frames'
    // construction — store-file listing, union building, analysis —
    // runs inside the concurrent write threads instead of serializing
    // on this thread before any write job can start (the profiled
    // pre-write driver-only gap was ~0.5 s/commit). Shared
    // intermediates are lazy vals, so exactly one thread builds each
    // and the rest reuse the object.

    // cover fragments of every touched bucket, read ONCE: the coverage
    // buckets feed subtraction + the re-merge write, the obs buckets
    // feed the new-point probe (extra rows fall out of each join's
    // equi-keys, so sharing the wider read is free)
    lazy val coverOld = mergeRead("cover", batchId, Some(oBkts ++ cBkts))
    // points first seen in this batch (anti vs the committed point set)
    // and the batch's NEWLY-covered segments (per-cell interval
    // subtraction batch \ store — batch-sized, no pair blowup); lazily
    // persisted: whichever write-job branch (or broadcast build)
    // computes a partition first stores it, the rest read it (block
    // races are per-partition, handled by the BlockManager — the
    // round-9 eager barrier job here cost a full stage level per
    // commit and was dropped in round 10's A/B; persist() not
    // localCheckpoint for the scheduler-deadlock reason on the batch
    // frames above — these two are exactly the shared frames whose
    // concurrent checkpoint transition the JVM caught deadlocking)
    lazy val newPts = obsPts.join(
        appendRead("pts", batchId, Some(oBkts))
          .withColumn("bkt", pointBkt(n).cast(IntegerType)),
        Seq("bkt", "chromosome", "position"), "left_anti")
      .persist()
    lazy val segsNew = subtractFragments(covF, coverOld)
      .persist()

    // denominator deltas — ONE tagged containment join (round-9; was
    // three). The pairs newly counted this commit are exactly those
    // where the point is new OR the fragment is new:
    //   stored point × stored cover — already counted, filtered out
    //   stored point × new segment  — the batch extended its coverage
    //   new point × stored cover    — the point just appeared
    //   new point × new segment     — both arrived this batch
    // Every pair still appears at most once BY CONSTRUCTION (fragments
    // disjoint per sample within a cell; new segments disjoint from
    // stored coverage) — no distinct anywhere.
    def ptsTagged = appendRead("pts", batchId, Some(cBkts))
      .withColumn("p_new", lit(false))
      .unionByName(newPts.drop("bkt").withColumn("p_new", lit(true)))
    def fragsTagged = coverOld.withColumn("f_new", lit(false))
      .unionByName(segsNew.withColumn("f_new", lit(true)))
    // delta pairs flow UNAGGREGATED into the overlay's one hash
    // aggregate below (round-10): both grouped on the same key, so the
    // intermediate per-point agg was a pure extra shuffle level on the
    // deepest write path
    def denomDelta = containSamples(ptsTagged, fragsTagged,
        extraPred = Some(col("p_new") || col("f_new")))
      .select(col("chromosome"), col("position"),
        (col("pool_size") * VardaOps.ploidy).cast(LongType).as("denom_cov"))

    // merge folds with `bkt` leading the grouping keys over a
    // bucketized child (see [[bucketize]]): union + ONE exchange + one
    // hash aggregate + the bucketed write, no second exchange
    def numerNew = bucketize(mergeRead("numer", batchId, Some(oBkts))
        .unionByName(obsB.select(col("chromosome"), col("position"),
          col("reference"), col("observed"), col("support").as("numer"))),
        pointBkt(n), n)
      .groupBy("bkt", "chromosome", "position", "reference", "observed")
      .agg(sum(col("numer")).cast(LongType).as("numer"))
    // overlay = old content + delta: union + ONE hash aggregate (the
    // full-outer-join form costs two sorted map sides for the same sum)
    def denomNew = bucketize(mergeRead("denom", batchId, Some(oBkts ++ cBkts))
        .unionByName(denomDelta), pointBkt(n), n)
      .groupBy("bkt", "chromosome", "position")
      .agg(sum(col("denom_cov")).cast(LongType).as("denom_cov"))
    // merged store for the COVERAGE-touched cells only (a row filter on
    // the shared read keeps the overlay tight): old fragments ∪ new
    // segments, re-merged so adjacent pieces coalesce — stays disjoint
    // per (sample, cell), which is the store's load-bearing invariant
    def coverNew = mergeFragments(
      bucketize(coverOld.filter(bktOf(col("cell"), n)
          .isin(cBkts.toSeq: _*)).unionByName(segsNew),
        bktOf(col("cell"), n), n),
      bucketed = true)
    def obslogNew = obsB.select("chromosome", "position", "reference",
      "observed", "sample_id", "support")
    // the coverage CHANGE LOG delta (round 16): exactly the segments
    // this commit newly covered, already computed (and persisted) for
    // the denominator fold — the +side of the signed coverage measure
    // the change feed streams (see the covlog schema note). Reuses
    // segsNew's cached blocks, so the append costs one map-only write.
    def covlogNew = segsNew.select(col("chromosome"), col("cell"),
      col("fbegin"), col("fend"), col("sample_id"),
      col("pool_size").cast(IntegerType).as("pool_size"))
    def smpregNew = smpB.select(col("sample_id").cast(LongType).as("sample_id"),
      col("pool_size").cast(IntegerType).as("pool_size"), col("has_coverage"))
    // sample → cover-bucket registry (round-11): which buckets hold
    // this batch's coverage, per sample — the O(samples × nBuckets)
    // side index that lets [[retract]] prune its cover read to the
    // retracted samples' buckets instead of scanning the whole store.
    // Decoded from the manifest's packed kind-1 rows (NOT a covF job,
    // and NOT smpB-joined: coverage can arrive in a batch that
    // registers no samples, and an unrecorded bucket would silently
    // break the pruned retraction's superset contract).
    def covidxNew = {
      import spark.implicits._
      covSets.toSeq.flatMap { case (s, bs) => bs.map(b => (s, b)) }
        .toDF("sample_id", "bkt_id")
    }
    // sample → obslog-bucket registry, the covidx twin for the
    // NUMERATOR side: lets [[retractSamples]] prune its obslog read to
    // the retracted samples' buckets (effective once compaction has
    // bucketed the obslog; per-commit unbucketed deltas read whole).
    // Untagged observations (tag 0) register no obsidx row — they can
    // never be retracted by sample, so the pruned read need not find them
    def obsidxNew = {
      import spark.implicits._
      obsSets.toSeq.filter(_._1 > 0)
        .flatMap { case (t, bs) => bs.map(b => (t - 1, b)) }
        .toDF("sample_id", "bkt_id")
    }

    // a replay rewrites an already-committed generation: withdraw its
    // marker BEFORE touching its data, so a crash mid-rewrite leaves an
    // uncommitted (invisible) generation, never a blessed marker over
    // missing or torn files — markCommitted restores it after the write
    unmark(batchId, 0)
    writeGen(genPath(batchId, 0), n, Seq(
      ("numer", () => numerNew, true),
      ("denom", () => denomNew, true),
      ("pts", () => newPts, true),
      ("obslog", () => obslogNew, false),
      ("cover", () => coverNew, true),
      ("covlog", () => covlogNew, false),
      ("smpreg", () => smpregNew, false),
      ("covidx", () => covidxNew, false),
      ("obsidx", () => obsidxNew, false)),
      Map("numer" -> oBkts, "denom" -> (oBkts ++ cBkts), "cover" -> cBkts))
    awaitAll(Seq(matF)) // a no-op by now; don't leak the thread past commit
    markCommitted(batchId, 0, n, uncovPool(batchId) + uncovDelta)
    // the commit-side shared frames release on success; a failed write
    // phase leaks them only until the replay (which prepares fresh ones)
    newPts.unpersist(false); segsNew.unpersist(false)
    } finally {
      // success OR failure, release the PREPARE-side caches: matF
      // populates them even when the commit aborts at the manifest
      // (e.g. the sample-id guard), an ingest loop commits forever, and
      // persisted frames (unlike checkpoint blocks) register in the
      // session's CacheManager until explicitly dropped. Try-guarded:
      // releasing caches must never mask the commit's own failure.
      for (df <- Seq(() => obsB, () => covF, () => obsPts))
        scala.util.Try(df().unpersist(false))
      ()
    }
  }

  /** Best-effort cross-process single-writer GUARD (the concurrency
    * contract above, enforced loudly instead of by convention): every
    * mutating operation holds `_writer.lock` for its duration. The
    * mechanics — create-exclusive acquire, fail-fast with the holder's
    * identity, ownership-checked release — live in the shared
    * [[graft.util.FsWriterLock]] (round 19: the ANN index adopted the
    * same guard, so the one implementation serves both components).
    * Crash recovery is an explicit operator action ([[breakLock]]): a
    * stale lock is evidence a writer died mid-operation, which
    * deserves a human look, not silent takeover. */
  private[graft] def withWriterLock[T](what: String)(body: => T): T =
    graft.util.FsWriterLock.withLock(fs,
      new Path(s"$dir/_writer.lock"), "freqstore", what)(body)

  /** Remove a stale `_writer.lock` after a crashed writer (operator
    * action — see [[withWriterLock]]). */
  def breakLock(): Unit = fs.delete(new Path(s"$dir/_writer.lock"), false)

  /** Retract samples from the committed state — the reference's sample
    * deactivation [U varda/models.py :: Sample.active] on the durable
    * store. The merged-fragment store makes it committable: a sample's
    * stored fragments ARE its per-point denominator contribution, so
    *
    *  - `fragsGone` = the retracted samples' fragments, read from only
    *    the buckets the covidx registry names for them (round-11; was
    *    the store's one remaining full-component scan),
    *  - denominators: points inside `fragsGone` lose pool × ploidy —
    *    merge-subtract, touched buckets only,
    *  - cover: rewrite only buckets holding the samples' fragments,
    *    dropping them (later re-import folds cleanly),
    *  - numerators: negative fold of the samples' observations `obsR`;
    *    variants netting to zero are DROPPED from the overlay, which
    *    under newest-overlay-wins semantics is deletion,
    *  - obslog: the negated rows are APPENDED as tombstones, so the
    *    samples' net observations become zero (a second retraction
    *    subtracts nothing; a re-import restores),
    *  - coverage-less pool: subtract retracted uncovered pools.
    *
    * Same generational idempotence contract as [[commit]]: pure
    * function of (gens < batchId, arguments), overwrites `gen-batchId`.
    * [[retractSamples]] derives `obsR` from the obslog store, so the
    * stream needs only the sample rows. */
  def retract(batchId: Long, obsR: DataFrame, smpR: DataFrame): Unit =
    withWriterLock(s"retract batch $batchId")(
      retractLocked(batchId, obsR, smpR))

  private def retractLocked(batchId: Long, obsR: DataFrame,
      smpR: DataFrame): Unit = {
    // a retraction's obslog tombstones MUST be sample-tagged: a
    // null-sample_id tombstone can never net against the sample-tagged
    // +rows, so a later retractSamples() for the same samples would
    // re-read their (still-positive) net observations and subtract the
    // numerators a second time (round-9 ADVICE). Fail loudly instead.
    require(obsR.columns.contains("sample_id"),
      "retract() needs a sample_id column on obsR — without it the " +
        "appended tombstones cannot net against the samples' observations " +
        "and a repeated retraction double-subtracts; use retractSamples() " +
        "to derive the observations from the store's obslog")
    val n = nBkts
    val sids = smpR.select("sample_id")
    // prune the cover read to the retracted samples' buckets via the
    // covidx registry (round-11; was the store's one remaining
    // full-component administrative scan). covidx is an append-only
    // SUPERSET — commits record every bucket a sample's coverage ever
    // landed in, compaction rewrites it exactly — so restricting the
    // merge read to these buckets can never miss a live fragment.
    val coverAll = mergeRead("cover", batchId,
      Some(covBucketsOf(batchId, sids)))
    val fragsGone = Ckpt.narrow(coverAll
      .join(broadcast(sids), Seq("sample_id"), "left_semi")
      .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size"))
    val rsid = col("sample_id").cast(LongType)
    val obsN = Ckpt.narrow(obsR
      .select(col("chromosome"), col("position"), col("reference"),
        col("observed"), (-col("support")).cast(LongType).as("support"),
        rsid.as("sample_id")))
    // the samples' NET registrations off the registry — not the caller's
    // sample rows: a second retraction of the same samples sees zero net
    // and subtracts nothing from the coverage-less pool (the same
    // tombstone idempotence the obslog gives the numerators)
    val regNet = Ckpt.narrow(appendRead("smpreg", batchId, None)
      .join(broadcast(sids), Seq("sample_id"), "left_semi")
      .groupBy("sample_id", "has_coverage")
      .agg(sum(col("pool_size")).cast(IntegerType).as("pool_size"))
      .filter(col("pool_size") =!= 0))
    // the one manifest job: touched buckets + the retracted coverage-less
    // pool, materializing all three checkpoints as a side effect —
    // which is also why Ckpt.narrow is SAFE here where the commit
    // path needed persist(): the checkpoint transitions complete on
    // THIS thread at the manifest job's end, before writeGen launches
    // any concurrent job that references the frames (the deadlock
    // needs a transition concurrent with sibling-job planning). Same
    // per-(kind, sample) bucket-set shape as commit's, so the
    // tombstones' buckets register in obsidx — a hand-built retract()
    // carrying points no commit registered stays retractable again
    // later. fragsGone needs only the bucket SET (the covidx registry
    // already knows these samples), so its rows group under one key
    val manifest = obsN.select("chromosome", "position", "sample_id").distinct()
      .select(obsTag(col("sample_id")).as("sid"),
        pointBkt(n).cast(IntegerType).as("bkt"), lit(0).as("kind"))
      .unionByName(fragsGone.select(lit(0L).as("sid"),
        bktOf(col("cell"), n).cast(IntegerType).as("bkt"),
        lit(1).as("kind")))
      .groupBy("kind", "sid")
      .agg(collect_set(col("bkt")).as("bkts"))
      .unionByName(regNet.filter(!col("has_coverage"))
        .agg(lit(2).as("kind"),
          coalesce(sum(col("pool_size")), lit(0)).cast(LongType).as("sid"),
          typedLit(Seq.empty[Int]).as("bkts")))
      .collect()
    val obsSets = manifest.filter(_.getInt(0) == 0)
      .map(r => (r.getLong(1), r.getSeq[Int](2)))
    val oBkts = obsSets.flatMap(_._2).toSet
    val cBkts = manifest.filter(_.getInt(0) == 1).flatMap(_.getSeq[Int](2)).toSet
    val uncovGone = manifest.filter(_.getInt(0) == 2).map(_.getLong(1)).sum

    val denomGone = containSamples(
      appendRead("pts", batchId, Some(cBkts)), broadcast(fragsGone))
      .groupBy("chromosome", "position")
      .agg((-sum(col("pool_size") * VardaOps.ploidy)).cast(LongType).as("denom_cov"))
    val denomNew = mergeRead("denom", batchId, Some(cBkts))
      .unionByName(denomGone)
      .groupBy("chromosome", "position")
      .agg(sum(col("denom_cov")).cast(LongType).as("denom_cov"))
    val coverNew = mergeRead("cover", batchId, Some(cBkts))
      .join(broadcast(sids), Seq("sample_id"), "left_anti")
      .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size")
    val numerNew = VardaOps.foldNumer(
        mergeRead("numer", batchId, Some(oBkts)), obsN)
      .filter(col("numer") =!= 0)
    val smpregTomb = regNet.select(col("sample_id"),
      (-col("pool_size")).cast(IntegerType).as("pool_size"), col("has_coverage"))
    // covlog -side: the retracted samples' current merged fragments,
    // negated — nets the signed coverage measure to zero everywhere for
    // those samples (a later re-import's segments subtract against an
    // EMPTY store and re-append whole, so the measure transitions back
    // to 1 exactly where re-covered)
    def covlogTomb = fragsGone.select(col("chromosome"), col("cell"),
      col("fbegin"), col("fend"), col("sample_id"),
      (-col("pool_size")).cast(IntegerType).as("pool_size"))
    def obsidxTomb = {
      import spark.implicits._
      obsSets.toSeq.filter(_._1 > 0)
        .flatMap { case (t, bs) => bs.map(b => (t - 1, b)) }
        .toDF("sample_id", "bkt_id")
    }

    unmark(batchId, 0) // see commit(): no blessed marker over torn files
    writeGen(genPath(batchId, 0), n, Seq(
      ("numer", () => bucketize(numerNew, pointBkt(n), n), true),
      ("denom", () => bucketize(denomNew, pointBkt(n), n), true),
      ("obslog", () => obsN, false),
      ("cover", () => bucketize(coverNew,
        bktOf(col("cell"), n), n), true),
      ("covlog", () => covlogTomb, false),
      ("smpreg", () => smpregTomb, false),
      ("obsidx", () => obsidxTomb, false)),
      Map("numer" -> oBkts, "denom" -> cBkts, "cover" -> cBkts))
    markCommitted(batchId, 0, n, uncovPool(batchId) - uncovGone)
  }

  /** The covidx registry's bucket set for `sids` as of `batchId` —
    * every cover bucket that can hold those samples' fragments (a
    * superset between compactions; exact after one). O(samples ×
    * nBuckets) rows scanned, one scalar collect. */
  private[graft] def covBucketsOf(batchId: Long, sids: DataFrame): Set[Int] =
    idxBucketsOf("covidx", batchId, sids)

  /** The obsidx twin: every obslog bucket that can hold the samples'
    * (tagged) observation rows. */
  private[graft] def obsBucketsOf(batchId: Long, sids: DataFrame): Set[Int] =
    idxBucketsOf("obsidx", batchId, sids)

  private def idxBucketsOf(comp: String, batchId: Long,
      sids: DataFrame): Set[Int] =
    appendRead(comp, batchId, None)
      .join(broadcast(sids.select("sample_id")), Seq("sample_id"), "left_semi")
      .select("bkt_id").distinct().collect().map(_.getInt(0)).toSet

  /** Sample deactivation from the store alone: the samples' net
    * observations are read off the obslog component (appended +rows
    * minus tombstones), so the caller supplies only the sample rows —
    * how the streaming inbox routes a `.rm` file
    * ([[graft.streaming.Ingest.startFreqStoreMaintenance]]). */
  def retractSamples(batchId: Long, smpR: DataFrame): Unit =
    retract(batchId, netObsOf(batchId, smpR), smpR)

  /** The samples' NET observations off the obslog store, as of
    * generation `batchId` — the derivation [[retractSamples]] and the
    * SQL DELETE path share. The obsidx registry names the buckets that
    * can hold the samples' tagged observations (untagged rows never
    * match the semi-join, so skipping their buckets is lossless); once
    * compaction has bucketed the obslog, the read opens only those
    * directories. */
  private def netObsOf(batchId: Long, smpR: DataFrame): DataFrame =
    appendRead("obslog", batchId,
        Some(obsBucketsOf(batchId, smpR)))
      .join(broadcast(smpR.select("sample_id")), Seq("sample_id"), "left_semi")
      .groupBy("sample_id", "chromosome", "position", "reference", "observed")
      .agg(sum(col("support")).cast(LongType).as("support"))
      .filter(col("support") =!= 0)

  /** [[retractSamples]] under the NEXT generation id from the log, the
    * id chosen UNDER the writer lock (the [[appendGeneration]] twin) —
    * how SQL `DELETE FROM fqs.`…`#obslog WHERE sample_id IN (…)` lands
    * ([[graft.sources.FreqStoreObslogTable]]): the DELETE statement has
    * no batch-id argument, so the store allocates one exactly as the
    * INSERT path does. Returns the retraction's generation id, or None
    * when the samples have NOTHING to retract (never observed, never
    * registered, no stored coverage — OR already fully retracted):
    * committing a generation for a vacuous DELETE would grow the log,
    * emit an empty change-feed batch and lengthen every replay for no
    * state change (the INSERT path's zero-row rule, round-16 review) —
    * so idempotent maintenance DML is a true no-op. The explicit-id
    * [[retract]] keeps committing empties: a crash-REPLAYED retraction
    * must rewrite its own generation even when net-empty. */
  def retractSamplesNext(smpR: DataFrame): Option[Long] =
    withWriterLock("retract samples (next generation)") {
      // drop the instance log cache UNDER the lock — same staleness
      // hazard appendGeneration documents
      logCache = None
      val gen = generations.map(_._1).maxOption.fold(0L)(_ + 1L)
      val sids = broadcast(smpR.select("sample_id"))
      // short-circuit order: the common live-sample case answers on the
      // first (bucket-pruned) probe; the fully-vacuous case costs three
      // limit-1 jobs over pruned reads
      def hasObs = netObsOf(gen, smpR).limit(1).count() > 0
      def hasReg = appendRead("smpreg", gen, None)
        .join(sids, Seq("sample_id"), "left_semi")
        .groupBy("sample_id", "has_coverage")
        .agg(sum(col("pool_size")).as("p")).filter(col("p") =!= 0)
        .limit(1).count() > 0
      def hasCover = mergeRead("cover", gen,
          Some(covBucketsOf(gen, smpR.select("sample_id"))))
        .join(sids, Seq("sample_id"), "left_semi")
        .limit(1).count() > 0
      if (!hasObs && !hasReg && !hasCover) None
      else {
        retractLocked(gen, netObsOf(gen, smpR), smpR)
        Some(gen)
      }
    }

  /** Retention compaction: consolidate every live generation `< before`
    * into ONE snapshot — written as a NEW versioned directory
    * `gen-<maxGen>.<v+1>`, committed to the log only after the write
    * completes, and only then are superseded generations (and crash
    * debris below the bound) deleted. Readers resolve each generation
    * id to its highest committed version and treat a committed snapshot
    * as a log FLOOR, so every crash window leaves a fully consistent
    * store (the round-8 in-place overwrite had a delete-to-commit
    * window that could silently lose the newest batch).
    *
    * With the default `before` this is the offline OPTIMIZE
    * (single-writer, quiescent store). With `before = currentBatchId`
    * it is REPLAY-SAFE **inside** the import loop: only generations
    * strictly below the in-flight batch consolidate, so a
    * crash-replayed batch still finds its entire history — as the
    * snapshot — and refolds identically. A store already reduced to one
    * snapshot is left untouched (the cadence-driven call is free).
    *
    * `splitThreshold`: when any live (component, bucket) directory
    * exceeds this many bytes, the snapshot is rewritten under a DOUBLED
    * bucket modulus (recorded in its commit marker) — the re-bucketing
    * that keeps per-bucket overlay rewrites bounded as the store grows
    * 1000×. Splitting is only legal here because the snapshot
    * consolidates every live generation, so no mixed-modulus store can
    * exist.
    *
    * `retainGens` (round-10): retention grace for CROSS-PROCESS
    * serving. With `retainGens > 0` the delete phase keeps (a) EVERY
    * generation superseded by THIS compact — unconditionally, so a
    * reader in another process holding a DataFrame planned any time
    * before this compact still finds every file it listed, however
    * many generations the sweep consolidated — plus (b) the newest
    * `retainGens` generations superseded by EARLIER sweeps, which is
    * how old grace ages out. A committed snapshot FLOORS the log, so
    * retained generations are invisible to any new read; they only
    * keep old plans executable. Each later [[compact]] re-applies the
    * policy and a final `compact(retainGens = 0)` (the default)
    * reclaims everything — including when the store is already one
    * snapshot. */
  def compact(before: Long = Long.MaxValue,
      splitThreshold: Option[Long] = None,
      retainGens: Int = 0): Unit = withWriterLock("compact") {
    val lv = live(before)
    if (lv.isEmpty) { sweepSuperseded(before, retainGens, Set.empty); return }
    val n = lv.map(_.n).distinct match {
      case Seq(one) => one
      case more => sys.error(s"mixed bucket moduli in live commits: $more")
    }
    // splitting rewrites the whole store under a doubled modulus, which
    // is only legal when the snapshot consolidates EVERY committed
    // generation (no committed gen >= before may survive with the old
    // modulus), and is capped so a single hot 2^11 cell — which no
    // modulus can subdivide — cannot drive unbounded doubling
    val doSplit = splitThreshold.exists(t => maxBucketBytes(lv) > t) &&
      committed().forall(_.id < before) && n < MaxBuckets
    if (lv.size == 1 && lv.head.v > 0 && !doSplit) {
      // nothing to consolidate, but the retention policy still applies:
      // previously-retained generations past the grace window reclaim
      sweepSuperseded(before, retainGens, Set.empty)
      return
    }
    val newN = if (doSplit) n * 2 else n
    val maxGen = lv.map(_.id).max
    val newV = committed().filter(_.id == maxGen).map(_.v).max + 1
    // consolidate tombstones out of the obslog and registry while we're
    // rewriting. The obslog snapshot is BUCKETED under the shared point
    // hash (round-11): per-commit obslog writes stay map-only (the
    // commit floor is untouched), but compaction already rewrites every
    // row — bucketing here is free, and it converts the filtered
    // flagship lookups ([[lookupPointsFiltered]]/[[lookupPointsMulti]])
    // from an O(history) obslog scan into the same probe-bucket pruning
    // every other serving read gets. One bkt exchange serves both the
    // tombstone-netting aggregate and the partitionBy write (the merge
    // folds' subset-rule trick).
    val obslogSnap = bucketize(appendRead("obslog", before, None),
        pointBkt(newN), newN)
      .groupBy("bkt", "chromosome", "position", "reference", "observed",
        "sample_id")
      .agg(sum(col("support")).cast(LongType).as("support"))
      .filter(col("support") =!= 0)
      .select("bkt", "chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val smpregSnap = appendRead("smpreg", before, None)
      .groupBy("sample_id", "has_coverage")
      .agg(sum(col("pool_size")).cast(IntegerType).as("pool_size"))
      .filter(col("pool_size") =!= 0)
      .select("sample_id", "pool_size", "has_coverage")
    // the consolidated cover content feeds THREE snapshot components
    // (covidx, the re-bucketed cover store, the netted covlog) — read
    // and merge it ONCE, persisted so the concurrent write thunks share
    // blocks instead of each re-running the interval-merge fold
    // (round-16 review; persist() not localCheckpoint for the round-12
    // concurrent-jobs deadlock reason)
    lazy val coverAll = mergeRead("cover", before, None).persist()
    // the covidx registry is rewritten EXACTLY from the consolidated
    // cover store — retraction residue ages out and, when the snapshot
    // splits, the bucket ids are re-derived under the new modulus (the
    // per-commit appends are only ever a superset hint)
    def covidxSnap = coverAll
      .select(col("sample_id"),
        bktOf(col("cell"), newN).cast(IntegerType).as("bkt_id"))
      .distinct()
    // exact obsidx rewrite from the (netted, bucketed) obslog snapshot:
    // stale hints for fully-retracted samples age out, and a split
    // re-derives bucket ids under the new modulus
    val obsidxSnap = obslogSnap
      .filter(col("sample_id").isNotNull)
      .select(col("sample_id"), col("bkt").cast(IntegerType).as("bkt_id"))
      .distinct()
    // point-keyed components leave compaction SORTED by (chromosome,
    // position) within each bucket file (round-11): hash buckets cannot
    // be directory-pruned by a RANGE predicate, but a sorted file gives
    // every row group tight (chromosome, position) min/max stats — so a
    // pushed range filter ([[lookupRange]], the reference's region query
    // [U GET /variants?region=…]) skips all but the matching row groups
    // of every bucket. A LOCAL sort only: `bkt` leads the sort key, so
    // the write's required ordering (partitionBy bkt) is a satisfied
    // prefix and no exchange is added — and the commit path never pays
    // (per-commit deltas stay unsorted; they are one compaction away
    // from the serving layout, the same contract as obslog bucketing).
    def rangeSorted(df: DataFrame): DataFrame =
      df.sortWithinPartitions("bkt", "chromosome", "position")
    writeGen(genPath(maxGen, newV), newN, Seq(
      ("numer", () => rangeSorted(bucketize(mergeRead("numer", before, None),
        pointBkt(newN), newN)), true),
      ("denom", () => rangeSorted(bucketize(mergeRead("denom", before, None),
        pointBkt(newN), newN)), true),
      ("pts", () => rangeSorted(bucketize(appendRead("pts", before, None),
        pointBkt(newN), newN)), true),
      ("obslog", () => rangeSorted(obslogSnap), true),
      // cover sorts by its own point key, (chromosome, cell): the
      // range-filtered lookup prunes its cover probe with a cell-range
      // predicate, which row-group stats answer on this layout
      ("cover", () => bucketize(coverAll,
        bktOf(col("cell"), newN), newN)
        .sortWithinPartitions("bkt", "chromosome", "cell"), true),
      // the signed coverage log nets to the consolidated cover store's
      // content (every +/- pair below the snapshot cancels as a
      // measure): rewrite it AS that content, so a consumer
      // bootstrapping from the snapshot + streaming the tail refolds
      // the same denominators the netted history would have
      ("covlog", () => coverAll
        .select("chromosome", "cell", "fbegin", "fend", "sample_id",
          "pool_size"), false),
      ("smpreg", () => smpregSnap, false),
      ("covidx", () => covidxSnap, false),
      ("obsidx", () => obsidxSnap, false)), Map.empty)
    coverAll.unpersist(false) // all three consumers are written
    // the snapshot re-marker carries the consolidated head's FIRST
    // bless forward: the snapshot is maintenance, not user-visible
    // history, so `TIMESTAMP AS OF <maxGen's original commit time>`
    // must keep resolving after the superseded v0 marker is swept
    markCommitted(maxGen, newV, newN, uncovPool(before),
      committed().filter(_.id == maxGen).map(_.bless).min)
    // this sweep's victims — the generations the snapshot just
    // consolidated — are protected UNCONDITIONALLY under a grace
    // policy, so the cross-process promise holds however many
    // generations one compact supersedes (a gen-count quota alone
    // breaks it the first time a sweep eats more than the quota)
    sweepSuperseded(before, retainGens,
      if (retainGens > 0) lv.map(m => (m.id, m.v)).toSet else Set.empty)
  }

  /** The compact delete phase: a committed snapshot floors the log, so
    * everything below `before` except the floor is unreachable by any
    * NEW read — delete data dirs, crash debris (dirs no marker ever
    * blessed), and superseded log entries, KEEPING `protectNow` (the
    * calling sweep's own victims) plus the newest `retain` other
    * superseded committed generations as the cross-process grace
    * window (their markers stay too, so a later sweep can still tell
    * them from crash debris and age them out in order). */
  private def sweepSuperseded(before: Long, retain: Int,
      protectNow: Set[(Long, Int)]): Unit = {
    // the floor: the newest committed snapshot below the bound (absent
    // when the store has never compacted — nothing is superseded then)
    val perId = committed().filter(_.id < before)
      .groupBy(_.id).map { case (_, ms) => ms.maxBy(_.v) }.toSeq
    val floor = perId.filter(_.v > 0).sortBy(m => (m.id, m.v)).lastOption
    for (fl <- floor) {
      val keepGens: Set[(Long, Int)] = committed().filter(m => m.id < before)
        .map(m => (m.id, m.v))
        .filter(g => g != ((fl.id, fl.v)) && !protectNow.contains(g))
        .sorted.takeRight(retain).toSet ++ protectNow + ((fl.id, fl.v))
      for (st <- fs.listStatus(new Path(dir)).toSeq if st.isDirectory;
           (id, v) <- parseGenName(st.getPath.getName))
        if (id < before && !keepGens.contains((id, v)))
          fs.delete(st.getPath, true)
      val logDir = new Path(s"$dir/_commits")
      if (fs.exists(logDir))
        for (st <- fs.listStatus(logDir).toSeq) {
          val nm = st.getPath.getName
          // .tmp-* = a marker write that crashed between create and the
          // atomic rename; single-writer means none can be in flight here
          if (nm.startsWith(".tmp-")) fs.delete(st.getPath, false)
          else for ((id, v) <- parseGenName(nm))
            if (id < before && !keepGens.contains((id, v)))
              fs.delete(st.getPath, false)
        }
      logCache = None
    }
  }

  /** Serve ppm frequencies from the committed stores alone — the
    * three-frame [[VardaOps.serveFrom]] join, no containment join and
    * no history rescan at serve time. The commit-log high-water mark is
    * pinned ONCE and every component reads strictly below it, so a
    * commit landing mid-serve cannot skew one component ahead of
    * another: readers get snapshot consistency from the log bound. */
  def serve(): DataFrame = servedBelow(highWater)

  /** TIME-TRAVEL serve — the store's state AS OF generation `asOf`
    * (i.e. after commit/retraction `asOf` and everything below it).
    * The generational layout gives this for free: every read already
    * plans "live generations < before", so pinning `before = asOf + 1`
    * reproduces exactly the frame a reader saw the moment `asOf`
    * committed — replayed batches, retractions and all. The bound is
    * VALIDATED against the log: once [[compact]] has consolidated a
    * generation into a snapshot, its pre-snapshot states are gone
    * (retention grace keeps FILES for already-planned readers, not
    * addressable history), so an `asOf` at or below the newest
    * snapshot fails loudly instead of silently serving an empty or
    * floored frame. Row-equal to the [[serve]] a contemporary reader
    * got (FreqStoreSpec pins per-generation parity with the one-shot
    * over each batch prefix). */
  def serveAsOf(asOf: Long): DataFrame = {
    val before = math.addExact(asOf, 1L)
    validateAsOf(asOf, before)
    servedBelow(before)
  }

  /** The serving join over every generation below `before`. */
  private def servedBelow(before: Long): DataFrame =
    VardaOps.serveFrom(mergeRead("numer", before, None),
      mergeRead("denom", before, None), uncovFrame(before))

  /** An as-of bound is only honest while every generation <= asOf is
    * still individually addressable in the log — and while asOf itself
    * is not PAST the head: a typo'd future generation must fail, not
    * silently serve the head state labeled as something it isn't. */
  private def validateAsOf(asOf: Long, before: Long): Unit = {
    committed().filter(_.v > 0).map(_.id).maxOption.foreach { snap =>
      require(before > snap,
        s"asOf=$asOf predates the newest snapshot (gen-$snap) — " +
          "compaction consolidated that history; only generations >= " +
          s"$snap remain addressable")
    }
    require(live(before).nonEmpty || committed().isEmpty,
      s"asOf=$asOf predates the store's oldest committed generation")
    live(Long.MaxValue).map(_.id).maxOption.foreach { head =>
      require(asOf <= head,
        s"asOf=$asOf is beyond the newest committed generation " +
          s"(gen-$head) — refusing to serve the head state under a " +
          "generation id that never committed")
    }
  }

  /** `TIMESTAMP AS OF` resolution: the newest generation whose commit
    * marker was blessed at or before `tsMillis` (wall-clock time travel
    * — users think in "the store as of yesterday's import", not
    * generation ids). The bless time is the wall-clock RECORDED IN THE
    * MARKER CONTENT at commit (round 14; mtime fallback only for
    * markers written before the token existed), so a store that is
    * copied, restored from backup, or rsynced keeps its wall-clock
    * history — filesystem mtimes do not survive those. Per generation
    * id the EARLIEST surviving bless counts: that is its first bless;
    * a compaction's later `vN` re-marker is maintenance, not
    * user-visible history (compact carries the consolidated head's
    * first-bless forward into the snapshot marker for exactly this
    * reason). The resolved generation still goes through
    * [[serveAsOf]]'s validation at plan time, so a timestamp that
    * lands below the newest snapshot floor fails loudly instead of
    * serving a floored frame. A timestamp before the first commit (or
    * an empty store) is an error — there is no state to serve. */
  def generationAt(tsMillis: Long): Long = {
    val byId: Map[Long, Long] = committed()
      .groupBy(_.id).map { case (id, ms) => id -> ms.map(_.bless).min }
    require(byId.nonEmpty,
      s"freqstore: TIMESTAMP AS OF on $dir — the store has no " +
        "committed generations")
    val eligible = byId.collect { case (id, mt) if mt <= tsMillis => id }
    if (eligible.isEmpty) {
      // two honest failures: history consolidated below a snapshot
      // (compaction rewrote the markers — same loud refusal VERSION AS
      // OF gives), or genuinely before the store existed
      val snap = committed().filter(_.v > 0).map(_.id).maxOption
      val ts = java.time.Instant.ofEpochMilli(tsMillis)
      val first = java.time.Instant.ofEpochMilli(byId.values.min)
      snap.foreach { s =>
        sys.error(s"freqstore: TIMESTAMP AS OF $ts predates the newest " +
          s"snapshot (gen-$s, blessed $first) — compaction consolidated " +
          "that history; only wall-clock times at or after it remain " +
          "addressable")
      }
      sys.error(s"freqstore: TIMESTAMP AS OF $ts predates the store's " +
        s"first commit ($first)")
    }
    eligible.max
  }

  /** Point lookup — the reference's flagship query [U GET /variants]:
    * serve ONE (chromosome, position)'s frequencies through
    * [[lookupPoints]]'s one-bucket scan. Row-equal to `serve()` filtered
    * to the point. */
  def lookup(chromosome: String, position: Long): DataFrame =
    lookupPoints(Seq((chromosome, position)))

  /** Multi-point lookup: ONE scan of the store's DSv2 source
    * ([[servedRead]]) filtered per chromosome by `chromosome = c AND
    * position IN (…)`, the one form for any probe count (Spark turns a
    * long IN list into InSet, which reaches the scan as `sources.In`).
    * The scan names the probes' buckets on the driver, compiles the point
    * set into each reader's parquet row-group filter, and joins numer to
    * denom inside each bucket's reader: one job, no exchange, no
    * broadcast. Row-equal to [[serve]] filtered to the points — `serve()`
    * stays on the DataFrame join as the independent parity reference
    * (FreqStoreSpec pins parity and the one-bucket read). */
  def lookupPoints(points: Seq[(String, Long)]): DataFrame = {
    require(points.nonEmpty, "lookupPoints needs at least one point")
    servedRead().filter(points.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (c, ps) =>
        col("chromosome") === c && col("position").isin(ps.map(_._2).distinct: _*)
    }.reduce(_ || _))
  }

  /** Region-range lookup — the reference's region query [U GET
    * /variants?region=chrom:begin-end]: ONE scan of the store's DSv2
    * source ([[servedRead]]) under the range predicate. Since the
    * round-12 single-column bucket layout a range names its buckets on
    * the driver (it enumerates its cells, bounded by
    * [[FreqStore.MaxRangeCells]], and hashes each), and the scan opens
    * only those; the predicate also reaches each reader's parquet
    * row-group filter, and [[compact]] writes the point-keyed components
    * sorted by (chromosome, position) within each bucket file, so
    * min/max statistics trim the read further: O(range-rows + pruned
    * footers), not O(store). A range too wide to enumerate scans every
    * bucket with the sorted-layout statistics carrying the read.
    * Row-equal to [[serve]] filtered to the range, `serve()` being the
    * parity reference (RangeLookupSpec pins parity, the pushed range,
    * the sorted layout, and the bucket pruning). */
  def lookupRange(chromosome: String, begin: Long, end: Long): DataFrame = {
    require(begin <= end, s"empty range [$begin, $end]")
    servedRead().filter(col("chromosome") === chromosome &&
      col("position").between(begin, end))
  }

  /** The DSv2 serving scan (`spark.read.format("freqstore")`) bound to
    * the generation [[serve]] on this instance resolves: the high-water
    * mark is pinned NOW as the scan's `asOfGeneration`. The scan plans
    * lazily, when the caller's query is optimized, so without the pin a
    * commit landing between this call and the action would show in the
    * lookup but not in a `serve()` taken at the same time. An empty store
    * has no generation to pin. */
  private def servedRead(): DataFrame = {
    val upTo = highWater
    val r = spark.read.format("freqstore")
    (if (upTo == Long.MaxValue) r
     else r.option("asOfGeneration", (upTo - 1).toString)).load(dir)
  }

  /** Range lookup under a SAMPLE SUBSET — the reference's combined
    * flagship form [U GET /variants?region=…&sample_query=…], closing
    * the {point, range} × {full universe, filtered} query matrix.
    * Numerators come off the obslog with the range predicate PUSHED
    * (the compacted obslog is bucketed AND sorted by the point key, so
    * the scan reads only matching row groups of each bucket);
    * denominators probe the cover fragments under a CELL-window
    * predicate (fragments are cell-clipped, so a fragment covering a
    * point in [begin, end] has cell in [begin>>11, end>>11] — pushed,
    * and answered by row-group stats on the cell-sorted compacted
    * cover); the coverage-less pool nets off the registry. Work is
    * O(range + footers), never O(history). Row-equal to
    * [[lookupPointsFiltered]] over the range's observed points
    * (RangeLookupSpec). */
  def lookupRangeFiltered(chromosome: String, begin: Long, end: Long,
      samplePred: Column): DataFrame = {
    require(begin <= end, s"empty range [$begin, $end]")
    val upTo = highWater
    val rangePred = col("chromosome") === chromosome &&
      col("position") >= begin && col("position") <= end
    // the range names its buckets (round-12 single-column layout):
    // both the obslog and cover reads open only those directories
    val ks = FreqStore.rangeBuckets(begin, end, nBkts)
    // ONE obslog read feeds both the numerators and the probe point
    // set (variants only exist at observed points)
    val obsR = appendRead("obslog", upTo, ks).filter(rangePred)
    val coverF = mergeRead("cover", upTo, ks)
      .filter(col("chromosome") === chromosome &&
        col("cell") >= (begin >> CellShift) && col("cell") <= (end >> CellShift))
    servedSubset(obsR, obsR.select("chromosome", "position").distinct(),
      coverF, samplePred, upTo)
  }

  /** Point lookup restricted to a SAMPLE SUBSET — the reference's
    * expression-filtered flagship query [U GET /variants?sample_query=…]
    * over the committed store. The precomputed numer/denom stores cover
    * the full sample universe only, but the store retains everything a
    * subset query needs: numerators come off the obslog (sample-tagged
    * ± rows — tombstones net retracted samples out), denominators from
    * a containment probe of the points against the sample-filtered
    * merged cover fragments (each probe opens only its bucket
    * directories, so the serve-time containment join is probe-sized,
    * not store-sized), and the coverage-less pool from the sample
    * registry. `samplePred` is a predicate over `sample_id` — the
    * evaluated form of a sample expression
    * ([[VardaOps]]/`ExprLang`). Obslog pruning (round-11): per-commit
    * obslog writes are map-only (unbucketed), but [[compact]] rewrites
    * the obslog snapshot under the shared point hash — so the numerator
    * read prunes to the probes' buckets for every compacted generation
    * and falls back to a full read only of post-compaction commit
    * deltas (an unbucketed generation's directory is always read whole;
    * pruning is a superset hint, never a row filter). On a compacted
    * store the expression-filtered flagship query reads O(probes/
    * nBuckets) of the store's largest component instead of all of it.
    * Rows with a NULL sample_id (imports that never carried one) are
    * excluded from subset queries — they cannot be attributed. */
  def lookupPointsFiltered(points: Seq[(String, Long)],
      samplePred: Column): DataFrame = {
    require(points.nonEmpty, "lookupPointsFiltered needs at least one point")
    val upTo = highWater
    val n = nBkts
    val ks = points.map { case (c, p) => FreqStore.pointBucket(p, n) }.toSet
    import spark.implicits._
    val probe = broadcast(points.toDF("chromosome", "position"))
    servedSubset(
      appendRead("obslog", upTo, Some(ks))
        .join(probe, Seq("chromosome", "position"), "left_semi"),
      probe, mergeRead("cover", upTo, Some(ks)), samplePred, upTo)
  }

  /** The serving tail of the sample-subset lookups: numerators from the
    * `samplePred` rows of the obslog read `obs`, denominators from a
    * containment probe of the points `pts` against the `samplePred`
    * fragments of the cover read `cover`, and the coverage-less pool of
    * the `samplePred` samples registered below `upTo`. */
  private def servedSubset(obs: DataFrame, pts: DataFrame, cover: DataFrame,
      samplePred: Column, upTo: Long): DataFrame = {
    val numerF = obs.filter(samplePred)
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(sum(col("support")).cast(LongType).as("numer"))
      .filter(col("numer") =!= 0)
    val denomF = containSamples(pts, cover.filter(samplePred))
      .groupBy("chromosome", "position")
      .agg(sum(col("pool_size") * VardaOps.ploidy).cast(LongType).as("denom_cov"))
    val uncovF = appendRead("smpreg", upTo, None)
      .filter(samplePred && !col("has_coverage"))
      .agg(coalesce(sum(col("pool_size")), lit(0L)).cast(LongType).as("uncov_pool"))
    VardaOps.serveFrom(numerF, denomF, uncovF)
  }

  /** Multi-expression point lookup — the reference's single-pass
    * multi-query annotation [U varda/tasks.py :: write_annotation
    * annotates one INFO field per CONFIGURED sample query in one pass]
    * served from the committed store (round-10): N named sample
    * expressions answered with ONE obslog aggregation, ONE containment
    * probe against the full-universe cover fragments of the probes'
    * buckets, and ONE registry aggregate — each expression is an
    * aggregate FILTER (`sum(when(pred, …))`), never its own scan or
    * join, so serving N expressions costs one expression's data
    * motion. Emits one row per net variant at the probe points with a
    * `freq_ppm_<name>` column per expression (0 when the expression's
    * sample set never observed the variant — matching the annotate
    * convention). Spec-pinned equal to N independent
    * [[lookupPointsFiltered]] calls. */
  def lookupPointsMulti(points: Seq[(String, Long)],
      exprs: Seq[(String, Column)]): DataFrame = {
    require(points.nonEmpty, "lookupPointsMulti needs at least one point")
    require(exprs.nonEmpty, "lookupPointsMulti needs at least one expression")
    val upTo = highWater
    val n = nBkts
    val ks = points.map { case (c, p) => FreqStore.pointBucket(p, n) }.toSet
    import spark.implicits._
    val probe = broadcast(points.toDF("chromosome", "position"))
    // one obslog pass: net support per variant overall (the row-set
    // gate — tombstones net retracted samples out) plus one filtered
    // numerator per expression
    val numerAggs = sum(col("support")).cast(LongType).as("__numer_net") +:
      exprs.map { case (nm, pred) =>
        sum(when(pred, col("support")).otherwise(0L)).cast(LongType)
          .as(s"numer_$nm") }
    val numers = appendRead("obslog", upTo, Some(ks))
      .join(probe, Seq("chromosome", "position"), "left_semi")
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(numerAggs.head, numerAggs.tail: _*)
      .filter(col("__numer_net") =!= 0)
    // one containment probe over the FULL sample universe; expressions
    // select inside the aggregate
    val denomAggs = exprs.map { case (nm, pred) =>
      sum(when(pred, col("pool_size") * VardaOps.ploidy).otherwise(0L))
        .cast(LongType).as(s"denomcov_$nm") }
    val denoms = containSamples(probe, mergeRead("cover", upTo, Some(ks)))
      .groupBy("chromosome", "position")
      .agg(denomAggs.head, denomAggs.tail: _*)
    // one registry pass: per-expression coverage-less pool (net of
    // registration tombstones)
    val uncovAggs = exprs.map { case (nm, pred) =>
      coalesce(sum(when(pred && !col("has_coverage"), col("pool_size"))),
        lit(0L)).cast(LongType).as(s"uncov_$nm") }
    val uncovRow = appendRead("smpreg", upTo, None)
      .agg(uncovAggs.head, uncovAggs.tail: _*)
    val outPpm = exprs.map { case (nm, _) =>
      val denom = coalesce(col(s"denomcov_$nm"), lit(0L)) +
        col(s"uncov_$nm") * VardaOps.ploidy
      coalesce(
        call_function("div", col(s"numer_$nm") * 1000000, nullif(denom, lit(0)))
          .cast(LongType),
        lit(0L)).as(s"freq_ppm_$nm") }
    numers
      .join(denoms, Seq("chromosome", "position"), "left")
      .crossJoin(broadcast(uncovRow))
      .select(Seq("chromosome", "position", "reference", "observed")
        .map(col) ++ outPpm: _*)
  }

  /** Driver-side file manifest for the serving scan — the DataSource V2
    * surface ([[graft.sources.FreqStoreDataSource]]) plans from this:
    * per live bucket (optionally restricted), the newest-generation
    * numer and denom parquet files (merge-store resolution, snapshot
    * floor and commit-log modulus included), plus the coverage-less
    * pool scalar. Numer and denom share the bucket function, so a
    * reader holding one bucket's files of BOTH components can compute
    * that bucket's served rows with a purely local join. `asOf` pins
    * the manifest to an earlier generation (the scan's
    * `asOfGeneration` option) under [[serveAsOf]]'s validation. */
  private[graft] def serveFileManifest(buckets: Option[Set[Int]],
      asOf: Option[Long] = None)
      : (Map[Int, (Seq[String], Seq[String])], Long, (Long, Long)) = {
    val upTo = asOf.map { g =>
      val b = math.addExact(g, 1L)
      validateAsOf(g, b)
      b
    }.getOrElse(highWater)
    def files(comp: String): (Map[Int, Seq[String]], Long) = {
      val latest = scala.collection.mutable.Map.empty[Int, Path]
      for (m <- live(upTo);
           (k, bp) <- bucketDirs(compPath(m, comp))
           if buckets.forall(_.contains(k)))
        latest(k) = bp
      var bytes = 0L
      val out = latest.toMap.map { case (k, bp) =>
        val sts = fs.listStatus(bp).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
        bytes += sts.map(_.getLen).sum
        k -> sts.map(_.getPath.toString)
      }
      (out, bytes)
    }
    val (nf, nBytes) = files("numer")
    val (df, dBytes) = files("denom")
    // served rows come from numer (left side); denom-only buckets have
    // nothing to serve. PER-COMPONENT byte totals (same listing) feed
    // the scan's reported statistics — a denom-pruned projection must
    // report only the bytes it will actually read, or Catalyst plans a
    // sort-merge join exactly where the broadcast was the point.
    (nf.map { case (k, n) => k -> (n, df.getOrElse(k, Nil)) },
      uncovPool(upTo), (nBytes, dBytes))
  }

  // ---- commit log -------------------------------------------------------

  private def fs =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store-level COMMIT LOG: `_commits/gen-<b>[.<v>]` is created
    * only after generation (b, v) has fully written, with the bucket
    * modulus it was written under as content; readers resolve
    * generations through it — so a crash mid-commit (half-written
    * parquet) leaves dirs on disk that NO reader ever sees, and the
    * replayed batch overwrites them. Markers are staged and renamed so
    * a crash can never leave a committed-looking marker with torn
    * content. */
  /** Per-instance log cache: one public operation re-reads the log many
    * times (nBkts, uncovPool, every store read); under the single-writer
    * same-process contract the log only changes through this instance's
    * own [[markCommitted]]/[[unmark]]/[[compact]], which invalidate. A
    * fresh instance (the streaming loop builds one per batch) always
    * re-reads. */
  @volatile private var logCache: Option[Seq[Marker]] = None

  private def committed(): Seq[Marker] = logCache.getOrElse {
    val p = new Path(s"$dir/_commits")
    val read =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        parseGenName(st.getPath.getName).map { case (id, v) =>
          val in = fs.open(st.getPath)
          val body = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
          val parts = body.split("\\s+")
          require(parts.nonEmpty && parts(0).toIntOption.isDefined,
            s"unreadable commit marker ${st.getPath} (content '$body') — " +
              "not a store written by this format")
          // LAYOUT VERSION (3rd token; absent = v1): the bucket hash
          // changed in layout 2 (cell-only, chromosome dropped — see
          // bktOf), so pruned reads against a v1 layout would silently
          // miss rows. Refuse loudly instead.
          val layout = if (parts.length > 2) parts(2).toInt else 1
          require(layout == LayoutVersion,
            s"store at $dir was written under bucket-layout v$layout; " +
              s"this build reads v$LayoutVersion (the bucket hash " +
              "changed) — re-import the store or read it with the " +
              "writing version")
          // COMMIT WALL-CLOCK (4th token; round 14): the bless time is
          // durable commit metadata, recorded in the marker CONTENT —
          // filesystem mtimes are not (a copy/restore/rsync rewrites
          // them, silently re-mapping all TIMESTAMP AS OF history).
          // Markers written before round 14 lack the token; their
          // mtime is the best remaining evidence, used as fallback.
          val bless =
            if (parts.length > 3) parts(3).toLongOption.getOrElse(
              sys.error(s"unreadable bless time in marker ${st.getPath} " +
                s"(content '$body')"))
            else st.getModificationTime
          Marker(id, v, parts(0).toInt,
            if (parts.length > 1) parts(1).toLong else 0L, bless)
        }
      }
    logCache = Some(read)
    read
  }

  private def markCommitted(batchId: Long, v: Int, n: Int, uncov: Long,
      blessMillis: Long = System.currentTimeMillis()): Unit = {
    val d = new Path(s"$dir/_commits")
    fs.mkdirs(d)
    val name = genName(batchId, v)
    val tmp = new Path(d, s".tmp-$name")
    val out = fs.create(tmp, true)
    try out.write(s"$n $uncov $LayoutVersion $blessMillis".getBytes("UTF-8"))
    finally out.close()
    fs.delete(new Path(d, name), false)
    // rename failures RETURN false rather than throw; a silently
    // unblessed generation must abort the caller (in compact, before
    // the delete phase destroys the superseded history)
    require(fs.rename(tmp, new Path(d, name)),
      s"commit-log rename failed for $name — generation left uncommitted")
    logCache = None
  }

  /** Withdraw a generation's marker (replay is about to rewrite its
    * data). Absent marker = no-op. */
  private def unmark(batchId: Long, v: Int): Unit = {
    fs.delete(new Path(s"$dir/_commits/${genName(batchId, v)}"), false)
    logCache = None
  }

  /** Withdraw a generation AHEAD of a dependent replay (round-10,
    * ADVICE): when a crash-replayed WAVE rewrites generation `2b` while
    * its dependent retraction `2b+1` from the earlier attempt is still
    * committed, a reader in that window would see `2b+1`'s folds over
    * pre-`2b` bucket content. The ingest loop withdraws BOTH wave
    * markers before refolding, so readers see a consistent pre-wave
    * state throughout the replay. No-op when the marker is absent.
    *
    * Holds the writer lock for the marker withdrawal itself (a commit-
    * log mutation is a mutation), so a concurrent writer process fails
    * fast here exactly as it would at the subsequent commit. The
    * unmark→refold WAVE is not one lock acquisition — [[commit]] takes
    * the lock itself — so wave-level atomicity relies on the deployment
    * contract: exactly ONE streaming maintenance loop mutates a store
    * (the checkpoint dir already enforces one query instance). */
  private[graft] def unmarkGeneration(batchId: Long): Unit =
    withWriterLock(s"unmark generation $batchId")(unmark(batchId, 0))

  /** The LIVE view below `before`: each generation id resolved to its
    * highest committed version, floored at the newest committed
    * snapshot (v >= 1) — generations below a snapshot are unreachable
    * even if their files still exist (the crash-window guarantee). */
  /** Serve-time read bound: one past the newest live generation,
    * pinned once so a commit landing mid-read cannot skew one
    * component ahead of another. */
  private def highWater: Long =
    live(Long.MaxValue).map(_.id).maxOption.map(_ + 1).getOrElse(Long.MaxValue)

  private def live(before: Long): Seq[Marker] = {
    val perId = committed().filter(_.id < before)
      .groupBy(_.id).map { case (_, ms) => ms.maxBy(_.v) }.toSeq.sortBy(_.id)
    val floor = perId.filter(_.v > 0).map(_.id).maxOption.getOrElse(Long.MinValue)
    perId.filter(_.id >= floor)
  }

  /** The commit log as an operator-facing view — which generation ids
    * `VERSION AS OF` / [[serveAsOf]] can address: one row per committed
    * generation (its highest version), `live = false` for generations
    * consolidated below the newest snapshot floor (possibly retained on
    * disk by compaction grace, but unreadable by any new plan). */
  def generations: Seq[(Long, Int, Int, Boolean)] = {
    val perId = committed().groupBy(_.id)
      .map { case (_, ms) => ms.maxBy(_.v) }.toSeq.sortBy(_.id)
    val liveIds = live(Long.MaxValue).map(_.id).toSet
    perId.map(m => (m.id, m.v, m.n, liveIds.contains(m.id)))
  }

  /** Effective bucket modulus: read BACK from the commit log for an
    * existing store (the constructor's value only seeds a new one), so
    * reopening with a different constructor argument cannot mis-bucket
    * reads or writes. */
  private[graft] def nBkts: Int = {
    val lv = live(Long.MaxValue)
    if (lv.isEmpty) nBuckets
    else lv.map(_.n).distinct match {
      case Seq(one) => one
      case more => sys.error(s"mixed bucket moduli in live commits: $more")
    }
  }

  private def genName(id: Long, v: Int): String =
    if (v == 0) s"gen-$id" else s"gen-$id.$v"
  private def genPath(id: Long, v: Int): String = s"$dir/${genName(id, v)}"

  /** CHANGE-STREAM addressing (round 14, [[graft.sources.FreqStoreChangesSource]]):
    * a generation's obslog DELTA is only readable through its ORIGINAL
    * v0 write — a snapshot's obslog (v >= 1) is the netted rewrite of
    * all history below it, not a delta, so once compaction sweeps the
    * v0 files the generation is no longer streamable and the stream
    * must fail loudly (the same addressability contract serveAsOf
    * enforces for reads). Returns the delta's parquet files, or None
    * when generation `g`'s v0 marker is gone. An EMPTY Some is a
    * legitimate all-coverage commit (no observation rows). */
  private[graft] def obslogDeltaFiles(g: Long): Option[Seq[String]] =
    deltaFiles("obslog", g)

  /** The general form (round 16): any APPEND component's v0 delta files
    * for generation `g` — the multiplexed change feed streams obslog,
    * covlog and smpreg deltas through the same addressability contract. */
  private[graft] def deltaFiles(comp: String, g: Long): Option[Seq[String]] = {
    // LIVENESS is the caller's job: the change stream constructs a
    // FRESH store instance per planning call, so its first committed()
    // read here is live, and every generation of one micro-batch plan
    // is decided against ONE consistent log snapshot (clearing the
    // cache per call would both re-read the log O(gens) times per plan
    // and void the instance cache's snapshot-consistency contract for
    // any concurrent same-instance reader). A directory swept in the
    // marker-check-to-listing window maps to the None the marker
    // withdrawal implies (round-14 ADVICE: the stale-cache path used
    // to surface as FileNotFoundException).
    if (!committed().exists(m => m.id == g && m.v == 0)) None
    else try {
      val cp = new Path(s"${genPath(g, 0)}/comp=$comp")
      val bd = bucketDirs(cp)
      val dirs = if (bd.isEmpty) Seq(cp).filter(fs.exists) else bd.map(_._2)
      Some(dirs.flatMap(p => fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)))
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Whether generation `g`'s v0 directory carries component `comp` AT
    * ALL — distinguishes "empty delta" (dir present, no rows; a
    * legitimate batch shape) from "written before the component
    * existed" (dir absent; the change feed must fail loudly rather than
    * stream an incomplete generation). */
  private[graft] def hasDeltaComponent(comp: String, g: Long): Boolean =
    fs.exists(new Path(s"${genPath(g, 0)}/comp=$comp"))

  /** Every LIVE generation's obslog parquet files, tagged with the
    * generation id — the observation-log catalog table's scan manifest
    * ([[graft.sources.FreqStoreObslogTable]]): one consistent log
    * snapshot per call (per-marker resolution, snapshot floor), same
    * contract as every other read. Rows from a snapshot (v >= 1) are
    * the NETTED rewrite of all history at or below it and carry the
    * snapshot head's generation id. */
  private[graft] def obslogLiveFiles(): Seq[(Long, String)] =
    live(Long.MaxValue).flatMap { m =>
      val cp = compPath(m, "obslog")
      val bd = bucketDirs(cp)
      val dirs = if (bd.isEmpty) Seq(cp).filter(fs.exists) else bd.map(_._2)
      dirs.flatMap(p => fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (m.id, st.getPath.toString)))
    }

  /** Marker (id, version) pairs from the commit-log FILE NAMES alone —
    * a LIVE listing (never cached) that opens NO marker content. The
    * change stream's offset-space and addressability questions need
    * only names; content parsing (modulus, layout version, bless time)
    * stays in [[committed]]. One `listStatus` per call, so a streaming
    * trigger's poll costs one directory listing instead of O(markers)
    * file opens. */
  private[graft] def markerNames: Seq[(Long, Int)] = {
    val p = new Path(s"$dir/_commits")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap(st => parseGenName(st.getPath.getName))
  }

  /** Committed generation ids (any version) — the change stream's
    * offset space. Names-only and live (see [[markerNames]]). */
  private[graft] def committedIds: Seq[Long] =
    markerNames.map(_._1).distinct.sorted

  /** CDC BOOTSTRAP for a consumer attaching AFTER compaction (round 17 —
    * the reference's continuous-import lifecycle implies consumers that
    * attach late [U varda/tasks.py]): once a snapshot sweeps the v0
    * deltas below its floor, those generations are no longer streamable,
    * so a new consumer must start from the snapshot STATE and tail the
    * feed above it. This method assembles that initial state — the
    * newest committed snapshot's NETTED obslog / covlog / smpreg
    * components, rendered as wide-schema change rows
    * ([[graft.sources.FreqStoreChangesSource.wideSchema]]) tagged with
    * the snapshot's generation id — and names the tail's first
    * generation. The composition contract (FreqStoreChangesSpec pins it
    * bit-exactly):
    *
    * {{{
    *   val (boot, from) = store.bootstrapChanges()
    *   // drain freqstore-changes with option("startingGeneration", from),
    *   // option("components", "all") into `tail`; then
    *   FreqStore.refoldChanges(boot.unionByName(tail)) == store.serve()
    * }}}
    *
    * Legality rides the snapshot's own netting guarantees: the covlog
    * snapshot IS the consolidated signed coverage measure, the obslog
    * snapshot the net ± observation rows, the smpreg snapshot the net
    * registry — so the bootstrap frame is EXACTLY what refolding the
    * swept history's deltas would have produced, by the compaction
    * contract rather than by replay. A never-compacted store bootstraps
    * EMPTY and tails from the beginning. Cost: one pruned read of the
    * snapshot's three append components — O(state), never O(history). */
  def bootstrapChanges(): (DataFrame, Long) = {
    val snap = committed().filter(_.v > 0).sortBy(m => (m.id, m.v)).lastOption
    def compRead(comp: String): DataFrame =
      readPaths(comp, snap.toSeq.flatMap { mk =>
        val cp = compPath(mk, comp)
        val bd = bucketDirs(cp)
        if (bd.isEmpty) Seq(cp).filter(fs.exists) else bd.map(_._2)
      })
    val gen = lit(snap.map(_.id).getOrElse(-1L)).as("generation")
    val nullS = lit(null).cast(StringType)
    val nullL = lit(null).cast(LongType)
    val nullB = lit(null).cast(BooleanType)
    val obs = compRead("obslog").select(
      gen, lit("obs").as("component"),
      col("chromosome"), col("position"), col("reference"), col("observed"),
      col("sample_id"), col("support"),
      nullL.as("cell"), nullL.as("fbegin"), nullL.as("fend"),
      nullL.as("pool_size"), nullB.as("has_coverage"))
    val cover = compRead("covlog").select(
      gen, lit("cover").as("component"),
      col("chromosome"), nullL.as("position"), nullS.as("reference"),
      nullS.as("observed"), col("sample_id"), nullL.as("support"),
      col("cell"), col("fbegin"), col("fend"),
      col("pool_size").cast(LongType).as("pool_size"),
      nullB.as("has_coverage"))
    val reg = compRead("smpreg").select(
      gen, lit("registry").as("component"),
      nullS.as("chromosome"), nullL.as("position"), nullS.as("reference"),
      nullS.as("observed"), col("sample_id"), nullL.as("support"),
      nullL.as("cell"), nullL.as("fbegin"), nullL.as("fend"),
      col("pool_size").cast(LongType).as("pool_size"), col("has_coverage"))
    (obs.unionByName(cover).unionByName(reg),
      snap.map(_.id + 1).getOrElse(0L))
  }

  private def compPath(m: Marker, comp: String): Path =
    new Path(s"${genPath(m.id, m.v)}/comp=$comp")

  // ---- readers ----------------------------------------------------------

  /** Merge-store read: per bucket, the newest live generation `< before`
    * containing it (its overlay IS that bucket's full content). */
  private def mergeRead(comp: String, before: Long,
      buckets: Option[Set[Int]]): DataFrame = {
    val latest = scala.collection.mutable.Map.empty[Int, Path]
    for (m <- live(before);
         (k, bp) <- bucketDirs(compPath(m, comp)) if buckets.forall(_.contains(k)))
      latest(k) = bp
    readPaths(comp, latest.values.toSeq)
  }

  /** Append-store read: the union of every live generation `< before`'s
    * delta rows, restricted to `buckets` when given. */
  private def appendRead(comp: String, before: Long,
      buckets: Option[Set[Int]]): DataFrame =
    readPaths(comp, live(before).flatMap { m =>
      val cp = compPath(m, comp)
      val bd = bucketDirs(cp)
      if (bd.isEmpty) Seq(cp).filter(fs.exists)  // unbucketed component
      else bd.collect { case (k, bp) if buckets.forall(_.contains(k)) => bp }
    })

  /** The coverage-less pool is ONE scalar maintained in the commit log
    * (each marker records the pool as of its generation — a 1-row
    * "component" has no business costing a parquet write and a read
    * stage per commit). */
  private[graft] def uncovPool(before: Long): Long =
    live(before).lastOption.map(_.uncov).getOrElse(0L)

  private def uncovFrame(before: Long): DataFrame =
    spark.range(1).select(lit(uncovPool(before)).as("uncov_pool"))

  private def readPaths(comp: String, paths0: Seq[Path]): DataFrame = {
    // an overlay bucket dir may be EMPTY (= "content is now nothing",
    // the merge-store deletion marker): it must win the latest-gen race
    // but contributes no rows, so drop it from the actual read
    val paths = paths0.filter(p =>
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemas(comp))
    else spark.read.schema(schemas(comp)).parquet(paths.map(_.toString): _*)
  }

  /** `bkt=<k>` partition dirs inside one generation's component dir. */
  private def bucketDirs(compDir: Path): Seq[(Int, Path)] =
    if (!fs.exists(compDir)) Nil
    else fs.listStatus(compDir).toSeq.filter(_.isDirectory).flatMap { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("bkt=")) nm.stripPrefix("bkt=").toIntOption
        .map(_ -> st.getPath)
      else None
    }

  /** Largest live (component, bucket) directory in bytes — the
    * bucket-split trigger statistic (a driver listing, same cost class
    * as the manifest). */
  private def maxBucketBytes(lv: Seq[Marker]): Long = {
    var mx = 0L
    for (m <- lv; comp <- schemas.keys; (_, bp) <- bucketDirs(compPath(m, comp))) {
      val b = fs.listStatus(bp).filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      if (b > mx) mx = b
    }
    mx
  }

  // ---- the single-job generation write ----------------------------------

  /** Write one generation: per-component writes into `comp=<c>` subdirs
    * running CONCURRENTLY on a driver thread pool. One combined
    * `partitionBy(comp, bkt)` job was tried first (round-9) and
    * measured SLOWER: a single job serializes all of the driver-side
    * planning/codegen and chains every branch into one DAG's critical
    * path, while independent per-component jobs overlap both their
    * driver work and their stages — on a 32-core local box the
    * component writes are driver-latency-bound, not task-bound, so the
    * overlap is the whole game (SURVEY §6 has the A/B numbers).
    *
    * `ensure` lists touched buckets that must exist EVEN WHEN EMPTY: an
    * overlay bucket with zero rows means "this bucket's content is now
    * nothing" (how merge stores delete), and partitionBy writes no dir
    * for it — an empty `bkt=k` dir pins the distinction from
    * "untouched". */
  /** Attach the bucket column and hash-partition on IT ALONE. Because
    * `bkt` is a pure function of the component's grouping/join keys,
    * a downstream groupBy/window/join that INCLUDES `bkt` in its keys
    * is satisfied by this partitioning (Catalyst's subset rule) — so
    * the component pipelines exchange ONCE on bkt instead of once on
    * their natural keys plus once more for the bucketed write
    * (round-10: one sequential stage level per merge component per
    * commit). Each bucket still lands wholly in one partition → one
    * file per bucket directory, the at-scale layout. */
  private def bucketize(df: DataFrame, bkt: Column, n: Int): DataFrame =
    df.withColumn("bkt", bkt.cast(IntegerType)).repartition(n, col("bkt"))

  private def writeGen(genDir: String, n: Int,
      parts: Seq[(String, () => DataFrame, Boolean)],
      ensure: Map[String, Set[Int]]): Unit = {
    // a replayed generation must not inherit debris from a crashed
    // earlier attempt in components this write doesn't touch
    val gp = new Path(genDir)
    if (fs.exists(gp)) fs.delete(gp, true)
    runConcurrently(parts.map { case (c, mkDf, bucketed) => () =>
      // the thunk defers frame CONSTRUCTION (store-file listing, union
      // building, analysis) into this thread too — round-10: building
      // all six frames on the caller's thread was ~0.5 s/commit of
      // driver-only wall before the first write job could start
      val df = mkDf()
      if (bucketed)
        // frame already carries `bkt` (see [[bucketize]]) with every
        // bucket confined to one partition
        df.write.mode("overwrite").partitionBy("bkt")
          .parquet(s"$genDir/comp=$c")
      else
        // unbucketed append component (per-commit obslog/smpreg): a
        // map-only write with no exchange beats a bucket shuffle every
        // commit; compaction re-buckets the obslog snapshot so serving
        // reads prune (the commit path never pays for it)
        df.write.mode("overwrite").parquet(s"$genDir/comp=$c")
    })
    for ((c, ks) <- ensure; k <- ks) {
      val p = new Path(s"$genDir/comp=$c/bkt=$k")
      if (!fs.exists(p)) fs.mkdirs(p)
    }
  }

  /** Run independent Spark write jobs on concurrent driver threads —
    * the scheduler interleaves their stages, and their planning/codegen
    * overlaps too. Each job runs in its own scheduler pool: under
    * `spark.scheduler.mode=FAIR` (set by the entry points) the pools
    * round-robin task slots, so one job's wide stage cannot queue every
    * other job's short stages behind it; under the default FIFO mode
    * the pool property is inert and the behavior is round-9's. */
  private def runConcurrently(work: Seq[() => Unit]): Unit =
    awaitAll(work.zipWithIndex.map { case (w, i) =>
      inPool(s"freq-write-$i") { () => w(); () }
    })

  /** Start `body` on its own driver thread inside scheduler pool
    * `pool` (a local property — thread-confined, so each concurrent
    * job names its pool without clobbering the others'). */
  private def inPool[T](pool: String)(body: () => T): scala.concurrent.Future[T] = {
    import scala.concurrent.{ExecutionContext, Future, Promise}
    val p = Promise[T]()
    val t = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      try p.success(body())
      catch { case e: Throwable => p.failure(e) }
    }, s"freqstore-$pool")
    t.setDaemon(true)
    t.start()
    p.future
  }

  private def awaitAll(fs: Seq[scala.concurrent.Future[_]]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    fs.foreach(f => Await.result(f, Duration.Inf))
  }

  // ---- the fragment algebra ---------------------------------------------

  /** (point, sample) containment against a DISJOINT fragment set: equi
    * on (chromosome, cell) + residual BETWEEN. Because fragments of one
    * sample never overlap within a cell and a point lives in exactly
    * one cell, each (point, sample) emerges at most once — the property
    * that lets the denominator fold skip dedup entirely. */
  private[graft] def containSamples(points: DataFrame, frags: DataFrame,
      extraPred: Option[Column] = None): DataFrame = {
    val j = points.withColumn("cell", shiftright(col("position"), CellShift))
      .join(frags, Seq("chromosome", "cell"))
      .filter(col("position") >= col("fbegin")
        && col("position") <= col("fend"))
    extraPred.map(j.filter).getOrElse(j)
      .select("chromosome", "position", "sample_id", "pool_size")
  }

  /** Merge a fragment set to disjoint (coalescing touching pieces) per
    * (sample, chromosome, cell) with [[VardaOps.mergeIntervals]].
    * Strictly local to each cell, so bucket-restricted merges never need
    * rows from other buckets.
    *
    * With `bucketed = true` the input must come through [[bucketize]]:
    * `bkt` (a function of (chromosome, cell)) leads every partition
    * key, so the window and the aggregate reuse the one bkt exchange
    * and the output stays write-ready for `partitionBy("bkt")`. */
  private[graft] def mergeFragments(frags: DataFrame,
      bucketed: Boolean = false): DataFrame = {
    val bkt = if (bucketed) Seq("bkt") else Nil
    VardaOps.mergeIntervals(frags, bkt ++ Seq("sample_id", "chromosome", "cell"),
        "fbegin", "fend")
      .select((bkt ++ Seq("chromosome", "cell", "fbegin", "fend", "sample_id",
        "pool_size")).map(col): _*)
  }

  /** Per-cell interval subtraction `batch \ store`: for each batch
    * fragment, the sub-ranges no stored fragment of the same (sample,
    * chromosome, cell) covers. Gaps BEFORE each overlapping stored
    * piece come from a running-max window; the tail gap (after the last
    * overlap — the whole fragment when nothing overlaps) from the
    * group's aggregate. Both sides disjoint per key → output disjoint
    * per key and disjoint from the store. */
  private[graft] def subtractFragments(batch: DataFrame, store: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = batch.as("b")
    val s = store.as("s")
    val j = b.join(s,
      col("b.sample_id") === col("s.sample_id")
        && col("b.chromosome") === col("s.chromosome")
        && col("b.cell") === col("s.cell")
        && col("s.fend") >= col("b.fbegin") && col("s.fbegin") <= col("b.fend"),
      "left")
      .select(col("b.chromosome").as("chromosome"), col("b.cell").as("cell"),
        col("b.fbegin").as("fbegin"), col("b.fend").as("fend"),
        col("b.sample_id").as("sample_id"), col("b.pool_size").as("pool_size"),
        // greatest/least IGNORE nulls (SQL semantics) — gate on the join
        // having matched, so no-overlap rows keep null sb/se
        when(col("s.fbegin").isNotNull,
          greatest(col("s.fbegin"), col("b.fbegin"))).as("sb"),
        when(col("s.fbegin").isNotNull,
          least(col("s.fend"), col("b.fend"))).as("se"))
    // one group per batch fragment — fbegin is unique within the key
    // because the batch side is already merged-disjoint
    val key = Seq("sample_id", "chromosome", "cell", "fbegin")
    val ord = Window.partitionBy(key.map(col): _*).orderBy("sb")
    val gapsBefore = j.filter(col("sb").isNotNull)
      .withColumn("__pmax", max(col("se"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("gb", greatest(col("fbegin"), coalesce(col("__pmax") + 1, col("fbegin"))))
      .withColumn("ge", col("sb") - 1)
      .filter(col("ge") >= col("gb"))
      .select(col("chromosome"), col("cell"), col("gb").as("fbegin"),
        col("ge").as("fend"), col("sample_id"), col("pool_size"))
    val tailGaps = j.groupBy(key.map(col) :+ col("fend") :+ col("pool_size"): _*)
      .agg(max(col("se")).as("__maxse"))
      .withColumn("gb", coalesce(col("__maxse") + 1, col("fbegin")))
      .filter(col("gb") <= col("fend"))
      .select(col("chromosome"), col("cell"), col("gb").as("fbegin"),
        col("fend"), col("sample_id"), col("pool_size"))
    gapsBefore.unionByName(tailGaps)
  }
}

object FreqStore {
  /** 2^11 cell: the shared containment granule ([[VardaOps
    * .bucketedContainment]] uses the same shift). */
  private val CellShift = 11

  /** Split-compaction modulus ceiling: beyond this, an over-threshold
    * bucket is dominated by content no modulus can subdivide (a single
    * hot 2^11 cell) and further doubling would just rewrite the store
    * forever. 2^16 buckets × a multi-GB threshold covers any realistic
    * single-store deployment; shard above that. */
  private val MaxBuckets = 1 << 16
  private val CellSize = 2048L

  /** `bless` = the commit wall-clock (epoch millis): the 4th marker
    * token when recorded (round 14+), else the marker file's mtime —
    * see [[committed]]. */
  private case class Marker(id: Long, v: Int, n: Int, uncov: Long,
    bless: Long)

  /** Bucket-layout version recorded in every commit marker. v1 hashed
    * (chromosome, cell); v2 (round 12) hashes the cell alone — see
    * [[FreqStore.bktOf]] for why. Readers refuse other versions. */
  private[graft] val LayoutVersion = 2

  /** The haploid chromosomes — ONE definition of the ploidy rule for
    * every Scala-side denominator derivation: the columnar DSv2 reader
    * builds on it, and so does [[VardaOps.ploidy]], the Column every
    * DataFrame path (serveFrom and the lookups included) multiplies by.
    * A naming change (e.g. 'M' vs 'MT') edits exactly this list; the
    * oracle's SQL text states it apart ([[VardaSql.ploidyOf]]). */
  private[graft] val HaploidChromosomes: Seq[String] = Seq("X", "Y", "MT")
  private[graft] def ploidyOf(chromosome: String): Long =
    if (HaploidChromosomes.contains(chromosome)) 1L else 2L

  /** Reconstruct the store's SERVED frequency state from the multiplexed
    * change feed ALONE (round 16 — the denominator-side change stream):
    * `changes` is the wide `freqstore-changes` frame
    * (`option("components", "obslog,cover,registry")` —
    * [[graft.sources.FreqStoreChangesSource.wideSchema]]), a prefix-
    * complete drain of the feed. Bit-exact to the [[FreqStore.serve]]
    * frame as of the drained high-water generation:
    *
    *  - numerators: the obslog rows' net support per variant (tombstones
    *    cancel; zero nets drop — the overlay's retraction rule),
    *  - denominators: one containment join of the observed points
    *    against the SIGNED covlog fragments + a SUM — each (point,
    *    sample) pair's net signed count is its current 0/1 coverage
    *    indicator (the covlog invariant), so the sum IS the covered
    *    pool mass, with no per-epoch bookkeeping and independent of
    *    when each point first appeared,
    *  - coverage-less pool: the registry rows' net pool where
    *    `has_coverage = false`.
    *
    * The plan is the consumer side of the 100-TB CDC story: two hash
    * aggregates and one (chromosome, cell)-equi containment join —
    * no store reads, no history rescan, every input a streamed delta. */
  def refoldChanges(changes: DataFrame): DataFrame = {
    val obs = changes.filter(col("component") === "obs")
    val numer = obs
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(sum(col("support")).cast(LongType).as("numer"))
      .filter(col("numer") =!= 0)
    val pts = obs.select("chromosome", "position").distinct()
    val denom = pts
      .withColumn("cell", shiftright(col("position"), CellShift))
      .join(changes.filter(col("component") === "cover")
          .select("chromosome", "cell", "fbegin", "fend", "pool_size"),
        Seq("chromosome", "cell"))
      .filter(col("position") >= col("fbegin")
        && col("position") <= col("fend"))
      .groupBy("chromosome", "position")
      .agg(sum(col("pool_size") * VardaOps.ploidy).cast(LongType)
        .as("denom_cov"))
    val uncov = changes.filter(col("component") === "registry"
        && !col("has_coverage"))
      .agg(coalesce(sum(col("pool_size")), lit(0L)).cast(LongType)
        .as("uncov_pool"))
    VardaOps.serveFrom(numer, denom, uncov)
  }

  /** `gen-<id>` → (id, 0); `gen-<id>.<v>` → (id, v). */
  private def parseGenName(nm: String): Option[(Long, Int)] =
    if (!nm.startsWith("gen-")) None
    else nm.stripPrefix("gen-").split('.') match {
      case Array(i) => i.toLongOption.map(_ -> 0)
      case Array(i, v) =>
        for (ii <- i.toLongOption; vv <- v.toIntOption if vv > 0) yield (ii, vv)
      case _ => None
    }

  /** Driver-side bucket of a POINT — the one authority on the cell
    * granule for every serving caller (API lookups and the DSv2 scan
    * alike; re-deriving the shift at a call site risks pruning to the
    * wrong bucket, which for residual-only filters is silent row
    * loss). */
  private[graft] def pointBucket(position: Long, n: Int): Int =
    driverBucket(position >> CellShift, n)

  /** The shared bucket hash evaluated on the DRIVER — the same
    * Murmur3 expression `pmod(hash(cell), n)` the stores are written
    * with, so a point lookup can name its bucket directory without
    * running a Spark job. */
  private[graft] def driverBucket(cell: Long, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(Seq(Literal(cell)))
      .eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** The buckets a position RANGE can touch, when its cell span is
    * small enough to enumerate — the driver-side range pruning the
    * single-column bucket function unlocked (round 12). None above the
    * cap: an enormous range prunes nothing and the sorted row-group
    * statistics carry the read instead. */
  private[graft] def rangeBuckets(begin: Long, end: Long,
      n: Int): Option[Set[Int]] = {
    val c0 = begin >> CellShift
    val c1 = end >> CellShift
    if (c1 - c0 + 1 > MaxRangeCells) None
    else Some((c0 to c1).map(driverBucket(_, n)).toSet)
  }
  /** Cells above this enumerate more buckets than they prune. */
  private[graft] val MaxRangeCells = 1L << 12

  /** Explicit component schemas: empty-store reads and leaf-dir parquet
    * reads (no partition inference on `bkt=` leaves) both need them. */
  private val schemas: Map[String, StructType] = Map(
    "numer" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("position", LongType),
      StructField("reference", StringType), StructField("observed", StringType),
      StructField("numer", LongType))),
    "denom" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("position", LongType),
      StructField("denom_cov", LongType))),
    "pts" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("position", LongType))),
    "obslog" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("position", LongType),
      StructField("reference", StringType), StructField("observed", StringType),
      StructField("sample_id", LongType), StructField("support", LongType))),
    "cover" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("cell", LongType),
      StructField("fbegin", LongType), StructField("fend", LongType),
      StructField("sample_id", LongType), StructField("pool_size", IntegerType))),
    // the COVERAGE CHANGE LOG (round 16): an append store of SIGNED
    // cell-clipped fragments — a commit appends its newly-covered
    // segments with +pool_size, a retraction appends the retracted
    // samples' merged fragments with -pool_size, and a snapshot nets
    // the log to the consolidated cover store's content. The signed
    // MEASURE form is what makes the change feed denominator-complete:
    // each (point, sample) pair's net signed containment count is
    // exactly its current 0/1 coverage indicator (every + marks the
    // transition into coverage, every - the transition out), so a
    // downstream consumer reconstructs denominators by one containment
    // join + SUM over the feed — time-independent of when points
    // appeared ([[FreqStore.refoldChanges]]).
    "covlog" -> StructType(Seq(
      StructField("chromosome", StringType), StructField("cell", LongType),
      StructField("fbegin", LongType), StructField("fend", LongType),
      StructField("sample_id", LongType), StructField("pool_size", IntegerType))),
    "smpreg" -> StructType(Seq(
      StructField("sample_id", LongType), StructField("pool_size", IntegerType),
      StructField("has_coverage", BooleanType))),
    "covidx" -> StructType(Seq(
      StructField("sample_id", LongType), StructField("bkt_id", IntegerType))),
    "obsidx" -> StructType(Seq(
      StructField("sample_id", LongType), StructField("bkt_id", IntegerType))))
}
