package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global ranking — the 100 TB path for analytic ranks over a
  * whole table.
  *
  * Spark's `Window.orderBy(...)` with no partition key moves ALL rows to
  * one partition (WindowExec warns exactly that), which is fine for a
  * dimension-sized table and fatal at fact-table scale. The classic
  * two-pass alternative implemented here:
  *
  *  1. A chunk id per row, interpolated from the first sort key between
  *     its broadcast (min, max) — chunks are globally ordered key ranges
  *     ([[withGroupedChunkId]]).
  *  2. Per-chunk local `row_number` over a window PARTITIONED by the
  *     chunk id — every chunk ranks independently.
  *  3. Per-chunk counts (one tiny aggregate, O(chunks) rows) →
  *     cumulative offsets → broadcast join; global rank = offset +
  *     local rank.
  *
  * No driver-side state at all: the bounds and the O(chunks) offsets
  * ride broadcasts.
  *
  * Requires a TOTAL order (add a unique tiebreak column, as all declared
  * rank queries here already do): with a total order, row_number, rank
  * and dense_rank coincide and percent_rank/cume_dist derive directly.
  *
  * '''Small inputs take one plain window.''' Every entry point first asks
  * [[local]]: the input bytes of the leaves of `df`'s analyzed plan (a
  * file relation counts its already-listed `location.sizeInBytes`, any
  * other leaf its Catalyst `stats.sizeInBytes`; no job, no optimizer
  * pass) summed and compared with `spark.graft.globalRank.localMaxBytes`
  * (default 8 MB). Below it, the entry point runs ONE Spark window —
  * `Window.orderBy(keys)` or `Window.partitionBy(groupCols)`, with a
  * `rowsBetween(unboundedPreceding, currentRow)` frame for running sums
  * and maxes — instead of the chunk, offset and broadcast machinery,
  * whose fixed cost dominates at that size: counted through
  * `tools.ProfKeys` at sf0.01, win_global_rank runs 6 jobs, 9 stages and
  * 16 freshly generated classes chunked against 2, 3 and 4 as one
  * window. A leaf of unknown size (an RDD scan without origin stats)
  * always takes the chunked form; `localMaxBytes=0` forces it — the
  * key exists for that, so tests and `tools/gate.sh` can check the
  * chunked form on small fixtures; no caller tunes it. 8 MB sits inside
  * the measured range: in warm `tools.ProfKeys` reps (4-vCPU VM) one
  * window beat the chunked form on win_global_rank, agg_quartiles,
  * varda_frequency and varda_coverage_depth both at sf0.1 (`events` and
  * `orders`, 2.0 and 2.7 MB) and with those tables copied 5 and 4 times
  * (10.2 and 10.9 MB, above the threshold).
  *
  * The ungrouped forms ([[withGlobalRowNumber]], [[withGlobalRunningSum]])
  * are the grouped forms with no group columns: one chunk assignment
  * ([[withGroupedChunkId]]) and one chunked body per aggregate.
  *
  * Schema contract: both forms return the same columns in the same
  * order, with the same names, types and nullability — so a caller can
  * never tell which one ran. Row numbers are BIGINT NOT NULL on both
  * (the local `row_number()` is cast up from INT); a running sum has the
  * chunked form's `offset + local` type (the local sum is cast to it);
  * a running max has the value's own type on both. */
object GlobalRank {

  /** Append `out` = global 1-based rank of each row under `keys` (must be
    * a total order): [[withGroupedRowNumber]] with no group columns, so
    * above the [[local]] threshold no single-partition window. */
  def withGlobalRowNumber(df: DataFrame, keys: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame =
    withGroupedRowNumber(df, Nil, keys, out, numPartitions = numPartitions)

  /** Append `out` = 1-based rank within each `groupCols` group under the
    * total order `keys` — the PER-GROUP sibling of [[withGlobalRowNumber]]
    * for low-cardinality groups over fact-scale rows. A plain
    * `Window.partitionBy(group)` ranks each whole group inside one task:
    * 5 languages over a 100 TB corpus means 5 tasks sort 20 TB each. Here
    * every group splits into `numPartitions` arithmetic chunks, so
    * parallelism is groups × chunks regardless of group skew.
    *
    * `chunkKey` must be a NUMERIC column monotone non-decreasing in
    * `keys.head` (ties may share a chunk — in-chunk windows order by the
    * full key tuple, so only balance is affected; defaults to `keys.head`
    * cast to double). Chunk ids derive from the key's per-group broadcast
    * (min, max) — deterministic by construction ([[withGroupedChunkId]]).
    * The offsets frame is
    * O(groups × chunks) rows and must stay broadcast-sized; its
    * cumulative window partitions BY GROUP over that aggregated frame,
    * never over data rows. */
  def withGroupedRowNumber(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], out: String, chunkKey: Option[Column] = None,
      numPartitions: Int = 0): DataFrame =
    if (local(df)) localRowNumber(df, groupCols, keys, out)
    else {
      val gcols = groupCols.map(col)
      val bucketed = withGroupedChunkId(df, groupCols, keys, chunkKey,
        numPartitions)
      val localW = Window.partitionBy(gcols :+ col("__gr_pid"): _*)
        .orderBy(keys: _*)
      val local = bucketed.withColumn("__gr_local", row_number().over(localW))
      val offsets = bucketed.groupBy(gcols :+ col("__gr_pid"): _*).count()
        .withColumn("__gr_offset",
          coalesce(sum(col("count")).over(
            Window.partitionBy(gcols: _*).orderBy("__gr_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(gcols :+ col("__gr_pid") :+ col("__gr_offset"): _*)
      nullSafeBroadcastJoin(local, offsets, groupCols :+ "__gr_pid")
        .withColumn(out, col("__gr_offset") + col("__gr_local"))
        .drop("__gr_pid", "__gr_local", "__gr_offset")
    }

  /** The rows of each `groupCols` group at caller-chosen in-group RANKS
    * (1-based, under the total order `keys`) — the order-statistics
    * sibling of [[withGroupedRowNumber]] for queries that keep only a
    * few ranks per group (exact median, discrete quantiles). Ranking
    * every row to then discard all but 2-3 per group pays a full sort
    * exchange over the fact table; here only the chunks whose rank
    * interval [offset+1, offset+count] contains a wanted rank are
    * window-sorted. A group splits into [[SelectChunks]] chunks per
    * shuffle partition (`numPartitions` sets the count instead), so k
    * wanted ranks sort at most k of them, and the chunk-count aggregate
    * that decides it ships O(groups × chunks) rows. Selection is
    * rank-identical to ranking everything: any monotone chunk map gives
    * the same offsets + in-chunk row numbers
    * ([[withGroupedChunkId]]), so the surviving rows carry the same `out`
    * rank [[withGroupedRowNumber]] gives them.
    *
    * `ranks` is an ARRAY<BIGINT> expression over the group's row count
    * `n` (BIGINT) giving the wanted ranks; a rank out of [1, n] selects
    * nothing and a repeated rank selects its row once. The per-group
    * frame of counts and wanted ranks is group-cardinality-sized and
    * rides a broadcast. Returns the selected rows with `out` (the
    * in-group rank) and `__gr_n` (the group's row count) appended. */
  def groupedRowsAtRanks(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], out: String, ranks: Column,
      chunkKey: Option[Column] = None, numPartitions: Int = 0): DataFrame = {
    val gcols = groupCols.map(col)
    // one row per (group, distinct wanted rank), carrying the group's count
    def wantedOf(nPer: DataFrame) = nPer.select(gcols ++ Seq(
      col("n").as("__gr_n"), explode(array_distinct(ranks)).as("__gr_want")): _*)
    val (ranked, want) = if (local(df)) {
      // sum, not count: the chunked `n` (a sum of chunk counts) is nullable
      val nPer = df.groupBy(gcols: _*).agg(sum(lit(1L)).as("n"))
      (localRowNumber(df, groupCols, keys, out), wantedOf(nPer))
    } else {
      val bucketed = withGroupedChunkId(df, groupCols, keys, chunkKey,
        if (numPartitions > 0) numPartitions
        else SelectChunks * df.sparkSession.sessionState.conf.numShufflePartitions)
      // O(groups × chunks), read by the offsets window and the per-group
      // totals: both sit in one query, so exchange reuse runs the count
      // aggregate once, and no checkpoint runs it at build
      val chunkCounts = bucketed.groupBy(gcols :+ col("__gr_pid"): _*).count()
      val withOff = chunkCounts
        .withColumn("__gr_offset",
          coalesce(sum(col("count")).over(
            Window.partitionBy(gcols: _*).orderBy("__gr_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val want = wantedOf(chunkCounts.groupBy(gcols: _*)
        .agg(sum(col("count")).as("n")))
      // chunks whose global-rank interval contains a wanted rank
      val needed = nullSafeOn(withOff, want, groupCols,
          col("__gr_want") > col("__gr_offset") &&
            col("__gr_want") <= col("__gr_offset") + col("count"))
        .select(gcols :+ col("__gr_pid") :+ col("__gr_offset"): _*)
        .distinct()
      val localW = Window.partitionBy(gcols :+ col("__gr_pid"): _*)
        .orderBy(keys: _*)
      val ranked = nullSafeBroadcastJoin(bucketed, needed,
          groupCols :+ "__gr_pid")
        .withColumn(out, col("__gr_offset") + row_number().over(localW))
      (ranked, want)
    }
    // keep exactly the wanted ranks, with the group's row count
    nullSafeOn(ranked, want, groupCols, col(out) === col("__gr_want"))
      .drop(groupCols.map(c => s"__gr_w_$c") ++
        Seq("__gr_want", "__gr_pid", "__gr_offset"): _*)
  }

  /** Chunks per shuffle partition in [[groupedRowsAtRanks]]. On 16 MB
    * of `events` (GenScale sf1, 4 shuffle partitions, 4-vCPU VM) the
    * median warm `tools.ProfKeys` rep of agg_exact_median and
    * agg_quartiles took 2.9-3.8 s at 1 chunk per partition and
    * 2.0-2.7 s at 16, 32 and 64. */
  private val SelectChunks = 32

  /** Append `out` = inclusive global running sum of `value` under the
    * total order `keys`: [[withGroupedRunningSum]] with no group columns.
    * `value` must be exact-arithmetic (integer/decimal) for a
    * deterministic result — float prefix sums are order-fragile by
    * nature, which is exactly what the declared queries avoid. */
  def withGlobalRunningSum(df: DataFrame, keys: Seq[Column], value: Column,
      out: String, numPartitions: Int = 0): DataFrame =
    withGroupedRunningSum(df, Nil, keys, value, out,
      numPartitions = numPartitions)

  /** Append `out` = inclusive running sum of `value` within each
    * `groupCols` group under the total order `keys` — the PER-GROUP
    * sibling of [[withGlobalRunningSum]], same contract as
    * [[withGroupedRowNumber]]: every group splits into arithmetic
    * chunks, so a low-cardinality group key (22 chromosomes, 5
    * languages) never serializes into one task per group. `value` must
    * be exact-arithmetic (integer/decimal) for a deterministic result,
    * and non-null: a chunk's running sum stays null until its first
    * non-null value, so the chunked form would depend on where chunks
    * begin (the [[local]] window simply skips nulls). */
  def withGroupedRunningSum(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], value: Column, out: String,
      chunkKey: Option[Column] = None, numPartitions: Int = 0): DataFrame =
    withGroupedRunningSums(df, groupCols, keys, Seq(value -> out),
      chunkKey, numPartitions)

  /** N independent running sums over ONE sweep (r20, the sum-monoid
    * sibling of [[withGroupedRunningMaxes]]): every `values` pair
    * (value, out) gets its own inclusive running sum under the shared
    * total order — one window pass, one offsets aggregate, one
    * broadcast join, however many summands ride along. What the
    * multi-expression frequency sweep needs: one endpoint sweep carries
    * every expression's ±pool delta instead of one sweep (or one
    * containment join) per expression. Each `value` must be
    * exact-arithmetic, the [[withGroupedRunningSum]] contract. */
  def withGroupedRunningSums(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], values: Seq[(Column, String)],
      chunkKey: Option[Column] = None, numPartitions: Int = 0): DataFrame = {
    require(values.nonEmpty, "withGroupedRunningSums needs >= 1 (value, out) pair")
    groupedRunning(df, groupCols, keys, values, chunkKey, numPartitions,
      SumMonoid)
  }

  /** Append `out` = inclusive running MAX of `value` within each
    * `groupCols` group under the total order `keys` — the max-monoid
    * sibling of [[withGroupedRunningSum]] (same chunking contract):
    * per-chunk local running max plus an O(groups × chunks) exclusive
    * prefix-max broadcast, combined with `greatest` (which skips nulls,
    * so a null `value` row simply carries the prefix forward and `out`
    * is null only while NO non-null value has occurred yet in the
    * group — exactly the open-left-edge semantics a sweep wants). */
  def withGroupedRunningMax(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], value: Column, out: String,
      chunkKey: Option[Column] = None, numPartitions: Int = 0): DataFrame =
    withGroupedRunningMaxes(df, groupCols, keys, Seq(value -> out),
      chunkKey, numPartitions)

  /** N independent running maxes over ONE sweep (r19): every `values`
    * pair (value, out) gets its own inclusive running max under the
    * shared total order — one window pass, one offsets aggregate, one
    * broadcast join, however many monoids ride along. Callers that used
    * to run one sweep per value column (nearest-region's coverage flag
    * + prev-end distance) fuse them by tagging each event row with one
    * non-null value column and nulls elsewhere: max skips nulls, so each
    * output column sees only its own events. */
  def withGroupedRunningMaxes(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], values: Seq[(Column, String)],
      chunkKey: Option[Column] = None, numPartitions: Int = 0): DataFrame = {
    require(values.nonEmpty, "withGroupedRunningMaxes needs >= 1 (value, out) pair")
    groupedRunning(df, groupCols, keys, values, chunkKey, numPartitions,
      MaxMonoid)
  }

  /** How a running aggregate folds: `agg` is the per-row aggregate (also
    * the per-chunk total), `prefix` turns the exclusive window over the
    * chunk totals into a chunk's offset, and `combine(offset, local)` is
    * a row's output. */
  private case class Monoid(agg: Column => Column, prefix: Column => Column,
      combine: (Column, Column) => Column)
  private val SumMonoid = Monoid(sum(_), coalesce(_, lit(0L)), _ + _)
  private val MaxMonoid = Monoid(max(_), identity, greatest(_, _))

  /** The body of [[withGroupedRunningSums]] and [[withGroupedRunningMaxes]]:
    * per-chunk local running aggregates plus an O(groups × chunks)
    * offsets broadcast, or one partition-by-group window on the
    * [[local]] path. */
  private def groupedRunning(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], values: Seq[(Column, String)],
      chunkKey: Option[Column], numPartitions: Int, m: Monoid): DataFrame =
    if (local(df)) localRunning(df, groupCols, keys, values, m)
    else {
      val gcols = groupCols.map(col)
      val idx = values.indices
      val tagged = idx.foldLeft(df)((d, i) =>
        d.withColumn(s"__gr_val$i", values(i)._1))
      val bucketed = withGroupedChunkId(tagged, groupCols, keys, chunkKey,
        numPartitions)
      val localW = Window.partitionBy(gcols :+ col("__gr_pid"): _*)
        .orderBy(keys: _*).rowsBetween(Window.unboundedPreceding, 0)
      val local = idx.foldLeft(bucketed)((d, i) =>
        d.withColumn(s"__gr_local$i", m.agg(col(s"__gr_val$i")).over(localW)))
      val offW = Window.partitionBy(gcols: _*).orderBy("__gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tots = idx.map(i => m.agg(col(s"__gr_val$i")).as(s"__gr_tot$i"))
      val offsets = bucketed.groupBy(gcols :+ col("__gr_pid"): _*)
        .agg(tots.head, tots.tail: _*)
        .select(gcols ++ Seq(col("__gr_pid")) ++ idx.map(i =>
          m.prefix(m.agg(col(s"__gr_tot$i")).over(offW))
            .as(s"__gr_offset$i")): _*)
      val joined = nullSafeBroadcastJoin(local, offsets, groupCols :+ "__gr_pid")
      idx.foldLeft(joined)((d, i) =>
          d.withColumn(values(i)._2,
            m.combine(col(s"__gr_offset$i"), col(s"__gr_local$i"))))
        .drop("__gr_pid" +: idx.flatMap(i =>
          Seq(s"__gr_local$i", s"__gr_offset$i", s"__gr_val$i")): _*)
    }

  /** The [[local]] form of the running aggregates: one window with a
    * `rowsBetween(unboundedPreceding, currentRow)` frame per value, each
    * cast to the chunked form's `combine(offset, local)` type — that type
    * is read off a schema-only frame the analyzer resolves without a job.
    * Values and sums land in temporaries first, as on the chunked path, so
    * an output that reuses an input's name never feeds another output. */
  private def localRunning(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], values: Seq[(Column, String)], m: Monoid): DataFrame = {
    val idx = values.indices
    val tagged = idx.foldLeft(df)((d, i) =>
      d.withColumn(s"__gr_val$i", values(i)._1))
    val tots = idx.map(i => m.agg(col(s"__gr_val$i")).as(s"__gr_tot$i"))
    val types = tagged.agg(tots.head, tots.tail: _*)
      .select(idx.map(i => m.combine(
        m.prefix(m.agg(col(s"__gr_tot$i")).over()), col(s"__gr_tot$i"))): _*)
      .schema.map(_.dataType)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = idx.foldLeft(tagged)((d, i) => d.withColumn(s"__gr_local$i",
      m.agg(col(s"__gr_val$i")).over(w).cast(types(i))))
    idx.foldLeft(local)((d, i) => d.withColumn(values(i)._2, col(s"__gr_local$i")))
      .drop(idx.flatMap(i => Seq(s"__gr_local$i", s"__gr_val$i")): _*)
  }

  /** The [[local]] form of the row numbers: one `row_number` window, cast
    * to the chunked form's BIGINT. */
  private def localRowNumber(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], out: String): DataFrame =
    df.withColumn(out, row_number().over(
      Window.partitionBy(groupCols.map(col): _*).orderBy(keys: _*))
      .cast(LongType))

  /** True when `df` is small enough for one plain Spark window (object
    * scaladoc): the input bytes of the leaves of its analyzed plan sum to
    * less than `spark.graft.globalRank.localMaxBytes` (default 8 MB; 0
    * forces every scale form). This is the one small-input decision in
    * the engine: the median/quartile rank selection and
    * varda_annotate_multi's denominator sweep ask it too. A file
    * relation counts its file index's `sizeInBytes`, listed when the
    * relation was resolved; any other leaf counts its Catalyst
    * `stats.sizeInBytes` — no job and no optimizer pass. A leaf of
    * unknown size (an RDD scan without origin stats) reports
    * `spark.sql.defaultSizeInBytes`, `Long.MaxValue` unless set, so the
    * sum never falls below any threshold. */
  private[graft] def local(df: DataFrame): Boolean = {
    val maxBytes = df.sparkSession.conf
      .get("spark.graft.globalRank.localMaxBytes", (8L << 20).toString).toLong
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        BigInt(fs.location.sizeInBytes)
      case leaf => leaf.stats.sizeInBytes
    }
    sizes.sum < maxBytes
  }

  /** Broadcast inner join on `keys` with NULL-SAFE equality (`<=>`):
    * `Window.partitionBy` treats NULL as a group of its own, so the
    * grouped chunked forms must too — a plain equi-join would silently
    * DROP every null-group row (null != null), losing rows rather than
    * misranking them. EqualNullSafe is still an equi-join key to the
    * planner, so this stays a broadcast hash join. A key that is
    * non-nullable on both sides (the chunk id) joins on plain `===`,
    * which keeps a single integer key a long-keyed hash relation. No
    * keys: a cross join with the broadcast `right` (the ungrouped bounds
    * row). */
  private def nullSafeBroadcastJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame =
    if (keys.isEmpty) left.crossJoin(broadcast(right))
    else {
      val r = keys.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"__gr_r_$c"))
      val cond = keys.map { c =>
        val (lc, rc) = (col(c), col(s"__gr_r_$c"))
        if (left.schema(c).nullable || right.schema(c).nullable) lc <=> rc
        else lc === rc
      }.reduce(_ && _)
      left.join(broadcast(r), cond).drop(keys.map(c => s"__gr_r_$c"): _*)
    }

  /** Broadcast inner join of `l` and `r` on null-safe equality of `cs`
    * plus `extra`; keeps `r`'s copies of `cs` as `__gr_w_<c>`. With no
    * `cs` the join is on `extra` alone. */
  private def nullSafeOn(l: DataFrame, r: DataFrame, cs: Seq[String],
      extra: Column): DataFrame = {
    val rr = cs.foldLeft(r)((d, c) => d.withColumnRenamed(c, s"__gr_w_$c"))
    l.join(broadcast(rr),
      cs.map(c => col(c) <=> col(s"__gr_w_$c")).reduceOption(_ && _)
        .fold(extra)(_ && extra))
  }

  /** The shared chunk assignment of every chunked form: `__gr_pid`
    * derives arithmetically from `chunkKey`'s per-group (min, max),
    * attached as a broadcast (one row when `groupCols` is empty). `chunkKey`
    * must be NUMERIC and monotone non-decreasing in `keys.head`; it
    * defaults to `keys.head` cast to double.
    *
    * Chunk assignment is DETERMINISTIC BY CONSTRUCTION (round-7; replaces
    * a `localCheckpoint` of the full-width table): a row's chunk is a pure
    * function of its own values and its group's key bounds.
    * `repartitionByRange` + `spark_partition_id` is NOT that (its sampled
    * boundaries differ between two evaluations of the same subtree,
    * silently mis-ranking under task retry/speculation — the failure the
    * late-watermark rewrite hit), and the checkpoint that papered over it
    * materialized every column to the block manager. Here the offsets
    * branch re-evaluates only a column-pruned scan of the key, and
    * re-evaluation is safe because the chunk expression is
    * value-deterministic. No driver-side action at all: the bounds ride a
    * broadcast, the offsets stay O(groups × chunks).
    *
    * Chunk boundaries only affect BALANCE, never correctness: any fixed
    * monotone key→chunk map gives a correct rank (ties share a chunk,
    * and the in-chunk window orders by the full key tuple). Linear
    * interpolation balances uniform-ish keys (the analytic-rank norm); a
    * heavily value-skewed key concentrates chunks — callers own choosing
    * a spread leading key, same contract as any range partitioning. Nulls
    * follow Spark's default placement (first under asc, last under desc),
    * NaN sorts largest. Requires a deterministic input (both branches
    * re-evaluate `df` — true of every non-checkpointing formulation). */
  private def withGroupedChunkId(df: DataFrame, groupCols: Seq[String],
      keys: Seq[Column], chunkKey: Option[Column],
      numPartitions: Int): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    import org.apache.spark.sql.GraftPlanBridge
    import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder}
    val (firstE, desc) = GraftPlanBridge.expression(keys.head) match {
      case SortOrder(c, dir, _, _) => (c, dir == Descending)
      case e => (e, false)
    }
    val ck = chunkKey.getOrElse(GraftPlanBridge.column(firstE)).cast("double")
    val gcols = groupCols.map(col)
    val bounds = df.groupBy(gcols: _*)
      .agg(min(ck).as("__gr_lo"), max(ck).as("__gr_hi"))
    // degenerate span (all of a group's keys equal) → everything in
    // chunk 0; guarded explicitly because ANSI mode makes 0/0 an error,
    // not a null (empty input's null bounds still divide to null, which
    // greatest() ignores)
    val span = col("__gr_hi") - col("__gr_lo")
    val lin = when(span === 0d, lit(0))
      .otherwise(floor((ck - col("__gr_lo")) / span * parts)).cast("int")
    val ascChunk = when(isnan(ck), lit(parts - 1))
      .otherwise(least(greatest(lin, lit(0)), lit(parts - 1)))
    val chunk = if (desc) lit(parts - 1) - ascChunk else ascChunk
    nullSafeBroadcastJoin(df, bounds, groupCols)
      .withColumn("__gr_pid",
        when(ck.isNull, lit(if (desc) parts else -1)).otherwise(chunk))
      .drop("__gr_lo", "__gr_hi")
  }
}
