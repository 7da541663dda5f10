package graft.ops

import graft.{Q, Tables}
import graft.Tables.{dec4, dec6, scaledLong}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.4 aggregation operators.
  *
  * Everything here is a hash aggregate with map-side partial aggregation —
  * the shape that scales linearly with data and cluster size. DOUBLE
  * columns are cast to DECIMAL(18,4) *before* aggregating so sums are
  * exact and partition-order-independent (SURVEY.md §0).
  */
object Aggs {

  /** TPC-H Q1 shape: scan → filter-free groupBy → hash agg → sort. */
  val aggGroupbySums: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        scaledLong(sum(dec4(col("l_quantity"))).cast(DecimalType(18, 4)), 4)
          .as("sum_qty_e4"),
        scaledLong(sum(dec4(col("l_extendedprice"))).cast(DecimalType(18, 4)), 4)
          .as("sum_price_e4"),
        scaledLong((sum(dec4(col("l_quantity"))) / count(lit(1)))
          .cast(DecimalType(18, 6)), 6).as("avg_qty_e6"))
      .orderBy("l_returnflag", "l_linestatus")

  val aggCountDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  val aggMultiDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"))
      .orderBy("event_type")

  /** HyperLogLog++ distinct estimate — the 100 TB form of
    * agg_count_distinct (constant memory per group vs a full distinct
    * shuffle). Approx ⇒ no oracle; tolerance-tested in AggsSpec. */
  val aggApproxHll: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** MERGEABLE sketch lifecycle as a declared key (round 16): distinct
    * active days per event type computed as a two-level DataSketches HLL
    * pipeline — per-(type, month) PARTIAL sketches (`hll_sketch_agg`),
    * then a union-merge per type (`hll_union_agg`) and one estimate.
    * This is the 100 TB pre-aggregation pattern the one-shot
    * `approx_count_distinct` can't show: partials are small binary
    * values a pipeline persists per ingest slice (hour, day, shard) and
    * merges later at ANY grouping — re-aggregation without re-scanning
    * history, exactly how the store's commit path avoids rescans.
    *
    * This key has a FULL hash oracle, not a tolerance spec: a
    * DataSketches HLL stays in its exact (coupon list/set) regime until
    * ~hundreds of distinct items, and the sketched domain here — active
    * DAYS per type — is calendar-bounded (the fixture spans ~90 days; a
    * century is 36.5k) and does NOT grow with corpus volume, so
    * estimate == exact count at every scale factor BY CONSTRUCTION of
    * the domain, and the driver verifies the merge path bit-exactly
    * against DuckDB's COUNT(DISTINCT). Unbounded-cardinality accuracy
    * remains [[aggApproxHll]]'s tolerance-spec'd territory. */
  val aggHllMerge: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("month", col("ts")).as("month"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "month")
      .agg(expr("hll_sketch_agg(day, 12)").as("sk"))
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("n_days"))
      .orderBy("event_type")

  /** PERSISTED sketch partials (round 17): [[aggHllMerge]] demonstrates
    * partial→merge inside one query; the 100 TB pattern it cites
    * persists the partials PER INGEST SLICE and re-aggregates them later
    * — at any grouping — without rescanning history. Here the partials
    * TABLE — one row per (slice = calendar month, event_type) carrying
    * that slice's day-domain HLL sketch as a binary — is written once
    * per (application, corpus) to scratch, PARTITIONED BY the slice
    * column (a new ingest slice appends exactly one partition, the
    * [[Pipeline]] digest-store discipline), and the declared query reads
    * the partials table ALONE: merge across event types per MONTH — a
    * grouping the write-time key did not anticipate, answered from
    * O(slices × groups) bytes with the events history never rescanned
    * (ApproxSpec pins both properties). Oracle: exact per-month
    * COUNT(DISTINCT day) — the same bounded-domain coupon-regime
    * argument as [[aggHllMerge]] (≤ 31 days per month). */
  val aggHllPartials: Q = (s, d) => {
    // the write is the INGEST side's job — amortized once, like every
    // standing index (the ANN builds, the serving freq store)
    val dir = graft.util.Standing.get(s.sparkContext, "hll_partials", d) {
      val p = Scans.scratch(s, "hll_partials", d)
      Tables.events(s, d)
        .select(col("event_type"),
          date_format(col("ts"), "yyyy-MM").as("month"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .groupBy("month", "event_type")
        .agg(expr("hll_sketch_agg(day, 12)").as("sk"))
        .repartition(col("month"))
        .write.mode("overwrite").partitionBy("month").parquet(p)
      p
    }
    s.read.parquet(dir)
      .groupBy("month")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("n_days"))
      .select(col("month").cast(StringType).as("month"), col("n_days"))
      .orderBy("month")
  }

  /** KLL/GK-style quantile sketch — the 100 TB percentile: constant
    * memory per group, mergeable across partitions, vs a full sort for
    * exact quantiles. Approx ⇒ no oracle; AggsSpec bounds the rank error
    * against the exact sort-based percentile. */
  val aggApproxQuantile: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("q"))
      .select(col("event_type"), col("q")(0).as("p50"),
        col("q")(1).as("p95"), col("q")(2).as("p99"))
      .orderBy("event_type")

  /** Pivot to a wide per-user activity profile — one row per user, one
    * count column per event type. The value list is explicit, so the plan
    * is a single hash aggregate (no extra distinct-values job) and the
    * output schema is static — both required at scale. Pivot cells with no
    * rows are null in Spark and 0 under the oracle's FILTER aggregation;
    * coalesce unifies them. */
  val aggPivot: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")
  }

  /** Single-pass column profiling — the data-quality scan every pipeline
    * runs before training: per-column non-null count, exact distinct
    * count, and min/max, for all columns in ONE aggregate over one scan
    * (a per-column loop would scan the table N times). Bounds use exact
    * binary arithmetic (`floor(x·10^4)` — IEEE double multiply + floor are
    * bit-identical on both engines); the wide aggregate row unpivots to
    * one row per column via `stack`. */
  val aggProfileStats: Q = (s, d) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def e4(c: String) = expr(s"cast(floor($c * 10000) as bigint)")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_nn"),
      countDistinct(col(c)).as(s"${c}_nd"),
      min(e4(c)).as(s"${c}_min"),
      max(e4(c)).as(s"${c}_max")))
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nn, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
    Tables.lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) as (col_name, non_null, n_distinct, min_e4, max_e4)")
      .select("col_name", "n_rows", "non_null", "n_distinct", "min_e4", "max_e4")
      .orderBy("col_name")
  }

  private def coalesced(rf: String, ls: String) = Seq(
    coalesce(col(rf), lit("@ALL")).as("rf"),
    coalesce(col(ls), lit("@ALL")).as("ls"))

  val aggGroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        scaledLong(sum(dec4(col("l_quantity"))).cast(DecimalType(18, 4)), 4)
          .as("sum_qty_e4"))
      .select(coalesced("l_returnflag", "l_linestatus")
        ++ Seq(col("n_rows"), col("sum_qty_e4")): _*)
      .orderBy("rf", "ls")

  /** ROLLUP over a join result. The Dataset rollup API trips Spark's
    * ambiguous-self-join detector on join inputs (SPARK attribute-lineage
    * quirk), so this one goes through the SQL entry path (SURVEY.md §3
    * lifecycle 2) with the exact oracle text — same Catalyst plan either
    * way: join → Expand → hash agg. */
  val aggRollup: Q = (s, d) => {
    Tables.registerViews(s, d)
    s.sql(oracle("agg_rollup"))
  }

  val aggCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        scaledLong(sum(dec4(col("l_quantity"))).cast(DecimalType(18, 4)), 4)
          .as("sum_qty_e4"))
      .select(coalesced("l_returnflag", "l_linestatus")
        ++ Seq(col("n_rows"), col("sum_qty_e4")): _*)
      .orderBy("rf", "ls")

  val aggHaving: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 12)
      .orderBy("o_custkey")

  val aggCollectSorted: Q = (s, d) => {
    val n = Tables.nation(s, d); val sup = Tables.supplier(s, d)
    n.join(sup, sup("s_nationkey") === n("n_nationkey"))
      .groupBy("n_nationkey")
      .agg(array_join(array_sort(collect_list(col("s_name"))), "|")
        .as("supplier_names"))
      .orderBy("n_nationkey")
  }

  /** Equi-width numeric histogram: prices bin by floor division (the
    * `width_bucket` shape), each bin carrying count + exact quantity
    * sum. One map-side-combining hash aggregate over O(bins) groups —
    * the profile/visualization primitive at any corpus size. */
  val aggHistogram: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") / 5000).cast(LongType).as("bucket"),
        col("l_quantity"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        // dec4/scaledLong, not a raw LongType cast: Spark's DOUBLE→BIGINT
        // truncates toward zero while DuckDB's rounds half-even, so any
        // fractional quantity would silently diverge the hash
        scaledLong(sum(dec4(col("l_quantity"))).cast(DecimalType(18, 4)), 4)
          .as("qty_sum_e4"))
      .orderBy("bucket")

  /** Modal value per group (most frequent `source` per language),
    * deterministic tie-break on the value itself. Two hash aggregates:
    * the ranking window runs over the O(groups × distinct values)
    * AGGREGATED frame, never over data rows — at 100 TB the counts frame
    * is millions of rows, not billions. `max_by` would be one pass but
    * leaves ties engine-defined, which the oracle discipline forbids. */
  val aggMode: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("source"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source").as("mode_source"), col("cnt"))
      .orderBy("lang")
  }

  /** Exact per-group median of `events.value`, DISTRIBUTED: the in-group
    * rank comes from [[GlobalRank.withGroupedRowNumber]]'s arithmetic
    * chunking, so no group is ever sorted inside a single task (the
    * failure mode of `percentile` / a per-group window at fact scale —
    * 5 event types over 100 TB would mean 5 tasks sorting 20 TB each).
    * Declared output is 2×median ×10^4 as BIGINT: the sum of the one or
    * two middle decimal values needs no division, keeping the result
    * integer-exact and engine-portable (DuckDB's avg/median return
    * DOUBLE, which can never hash-match). */
  /** The r19 rank-SELECTING rewrite ([[GlobalRank.groupedRowsAtRanks]])
    * trades the full row-level window sort for an extra chunk-count
    * aggregate pass plus two broadcast joins — a FIXED cost that r19's
    * interleaved A/B measured LARGER than the saved sort at sf0.1
    * (agg_quartiles 0.81×, the round's one real regression). So the
    * selecting path now gates on the events table's raw parquet bytes
    * (deterministic from the files, memoized — a catalyst stats call
    * here cost ~40 ms of analyze+optimize per invocation; tunable via
    * `spark.graft.rankSelect.minInputBytes`): below the threshold the
    * plain full-ranking form wins on plan-fixed overhead, above it the
    * selecting form wins by sorting only the ~3/32 chunk slice that can
    * contain a wanted rank. Both forms assign byte-identical ranks
    * (r19, oracle-verified at every scale), so the gate never changes
    * the result. Default 64 MB sits above the r20 sf1 measurement point
    * (see OPTIMIZATION_r20.md — the crossover measured there). Below
    * GlobalRank's own small-input threshold
    * (`spark.graft.globalRank.localMaxBytes`, 8 MB) both branches run
    * the same single `row_number` window over the events, so this gate
    * only chooses between the two chunked forms. Both forms stay: at sf1
    * (GenScale `events`, 16 MB, so both chunked) warm `tools.ProfKeys`
    * reps (build + plan + exec, 4-vCPU VM, A B B A) put agg_exact_median
    * at 2.5-4.4 s full-ranking vs 2.8-4.2 s selecting and agg_quartiles
    * at 2.3-2.7 s vs 2.7-3.0 s — no win for selecting yet at 16 MB, and
    * it is the only form that sorts a ~3/32 slice at fact scale. */
  private def useRankSelect(s: org.apache.spark.sql.SparkSession,
      d: String): Boolean = {
    val thresh = s.conf
      .get("spark.graft.rankSelect.minInputBytes", (64L << 20).toString).toLong
    Tables.inputBytes(s, d, "events") >= thresh
  }

  val aggExactMedian: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), dec4(col("value")).as("v"), col("event_id"))
    val lo = floor((col("n") + 1) / 2).cast(LongType)
    val hi = floor((col("n") + 2) / 2).cast(LongType)
    // rank-SELECTING form (r19): only the chunks holding the two middle
    // ranks are window-sorted, instead of ranking every row and
    // discarding all but 1-2 per group — rank assignment (and thus the
    // selected rows) is identical by construction. Size-gated (r20):
    // below the threshold the full-ranking form's smaller plan wins.
    val sel =
      if (useRankSelect(s, d))
        GlobalRank.groupedRowsAtRanks(ev, Seq("event_type"),
          Seq(col("v"), col("event_id")), "rn",
          n => n.select(col("event_type"),
            explode(array(lo, hi)).as("__gr_want")))
      else {
        val ranked = GlobalRank.withGroupedRowNumber(ev, Seq("event_type"),
          Seq(col("v"), col("event_id")), "rn")
        val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        ranked.join(broadcast(n), "event_type")
          .filter(col("rn") === lo || col("rn") === hi)
      }
    sel.groupBy("event_type")
      .agg(scaledLong(
        (sum(col("v")) * when(count(lit(1)) === 1, 2).otherwise(1))
          .cast(DecimalType(38, 4)), 4).as("med2_e4"))
      .orderBy("event_type")
  }

  /** Exact distribution moments per group — count, sum, sum-of-squares,
    * min, max from ONE hash-aggregate scan with map-side combine. These
    * five are the sufficient statistics for mean/variance/stddev (and,
    * two-column, covariance/correlation): at 100 TB you ship the
    * O(groups) moments and do the division downstream, never a second
    * pass over data. All sums are DECIMAL-exact (partition-order
    * independent) and emitted as scaled BIGINTs; Spark's own
    * `var_samp`/`stddev` return DOUBLE, which can neither hash-match nor
    * merge exactly across partitions. */
  val aggMoments: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), dec4(col("value")).as("v"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        scaledLong(sum(col("v")).cast(DecimalType(38, 4)), 4).as("sum_e4"),
        scaledLong(sum((col("v") * col("v")).cast(DecimalType(28, 8)))
          .cast(DecimalType(38, 8)), 8).as("sumsq_e8"),
        scaledLong(min(col("v")).cast(DecimalType(38, 4)), 4).as("min_e4"),
        scaledLong(max(col("v")).cast(DecimalType(38, 4)), 4).as("max_e4"))
      .orderBy("event_type")

  /** Cross-moments per group — the sufficient statistics for covariance,
    * correlation and OLS slope between two columns (n, Σx, Σy, Σxy, Σx²,
    * Σy² as scaled BIGINTs over quantity × discount). Same contract as
    * [[aggMoments]]: ONE hash aggregate with map-side combine ships
    * O(groups) rows; the float divisions (corr = (nΣxy−ΣxΣy)/…) happen
    * downstream on the results-sized frame, never in a second data pass.
    * Products stay DECIMAL-exact (quantity and discount are 2-dp values,
    * so e4 casts are lossless) and every sum accumulates as
    * DECIMAL(38,·) — no BIGINT wraparound at any row count. */
  val aggComoments: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        dec4(col("l_quantity")).as("x"), dec4(col("l_discount")).as("y"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        scaledLong(sum(col("x")).cast(DecimalType(38, 4)), 4).as("sum_x_e4"),
        scaledLong(sum(col("y")).cast(DecimalType(38, 4)), 4).as("sum_y_e4"),
        scaledLong(sum((col("x") * col("y")).cast(DecimalType(28, 8)))
          .cast(DecimalType(38, 8)), 8).as("sum_xy_e8"),
        scaledLong(sum((col("x") * col("x")).cast(DecimalType(28, 8)))
          .cast(DecimalType(38, 8)), 8).as("sum_xx_e8"),
        scaledLong(sum((col("y") * col("y")).cast(DecimalType(28, 8)))
          .cast(DecimalType(38, 8)), 8).as("sum_yy_e8"))
      .orderBy("l_returnflag")

  /** Discrete quartiles (percentile_disc at 0.25/0.5/0.75) per group,
    * distributed exactly like [[aggExactMedian]]: chunked in-group rank,
    * broadcast counts, pick rows at rank ceil(q·n) — integer formulas
    * `(n+3) div 4`, `(n+1) div 2`, `(3n+3) div 4`, so both engines select
    * the identical row with no floating-point q·n. The selected VALUE is
    * deterministic even under value ties (any row at the target rank
    * carries the same v). One shuffle for the rank, one broadcast join;
    * never a per-group single-task sort. */
  val aggQuartiles: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), dec4(col("value")).as("v"), col("event_id"))
    val r25 = floor((col("n") + 3) / 4).cast(LongType)
    val r50 = floor((col("n") + 1) / 2).cast(LongType)
    val r75 = floor((col("n") * 3 + 3) / 4).cast(LongType)
    // rank-SELECTING form (r19, the [[aggExactMedian]] rewrite): only
    // the chunks holding the three quartile ranks are window-sorted.
    // Size-gated like [[aggExactMedian]] (r20): the selecting form's
    // extra chunk-count pass was a measured 19% regression at sf0.1.
    val sel =
      if (useRankSelect(s, d))
        GlobalRank.groupedRowsAtRanks(ev, Seq("event_type"),
          Seq(col("v"), col("event_id")), "rn",
          n => n.select(col("event_type"),
            explode(array(r25, r50, r75)).as("__gr_want")))
          .withColumn("n", col("__gr_n"))
      else {
        val ranked = GlobalRank.withGroupedRowNumber(ev, Seq("event_type"),
          Seq(col("v"), col("event_id")), "rn")
        val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        ranked.join(broadcast(n), "event_type")
          .filter(col("rn") === r25 || col("rn") === r50 || col("rn") === r75)
      }
    def pick(r: org.apache.spark.sql.Column, out: String) =
      scaledLong(max(when(col("rn") === r, col("v")))
        .cast(DecimalType(38, 4)), 4).as(out)
    sel.groupBy("event_type", "n")
      .agg(pick(r25, "p25_e4"), pick(r50, "p50_e4"), pick(r75, "p75_e4"))
      .select("event_type", "p25_e4", "p50_e4", "p75_e4")
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "agg_mode" -> aggMode,
    "agg_exact_median" -> aggExactMedian,
    "agg_moments" -> aggMoments,
    "agg_comoments" -> aggComoments,
    "agg_quartiles" -> aggQuartiles,
    "agg_histogram" -> aggHistogram,
    "agg_groupby_sums" -> aggGroupbySums,
    "agg_count_distinct" -> aggCountDistinct,
    "agg_multi_distinct" -> aggMultiDistinct,
    "agg_approx_hll" -> aggApproxHll,
    "agg_hll_merge" -> aggHllMerge,
    "agg_hll_partials" -> aggHllPartials,
    "agg_approx_quantile" -> aggApproxQuantile,
    "agg_pivot" -> aggPivot,
    "agg_profile_stats" -> aggProfileStats,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_having" -> aggHaving,
    "agg_collect_sorted" -> aggCollectSorted)

  val oracle: Map[String, String] = Map(
    // the sketched domain (active days) is calendar-bounded, so the HLL
    // stays in its exact coupon regime and the merge must reproduce the
    // exact distinct count — see aggHllMerge's scaladoc
    "agg_hll_merge" ->
      """SELECT event_type,
           count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
         FROM events GROUP BY event_type ORDER BY event_type""",
    // per-month distinct active days, answered by the engine from the
    // PERSISTED partials table alone (≤ 31 days/month keeps the sketch
    // in its exact coupon regime — see agg_hll_merge)
    "agg_hll_partials" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
           count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
         FROM events GROUP BY 1 ORDER BY 1""",
    "agg_moments" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v
                    FROM events)
         SELECT event_type, count(*) AS n,
           CAST(CAST(SUM(v) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_e4,
           CAST(CAST(SUM(CAST(v * v AS DECIMAL(28,8))) AS DECIMAL(38,8))
                * 100000000 AS BIGINT) AS sumsq_e8,
           CAST(CAST(MIN(v) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS min_e4,
           CAST(CAST(MAX(v) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS max_e4
         FROM e GROUP BY event_type ORDER BY event_type""",
    "agg_comoments" ->
      """WITH li AS (SELECT l_returnflag,
                       CAST(l_quantity AS DECIMAL(18,4)) AS x,
                       CAST(l_discount AS DECIMAL(18,4)) AS y
                     FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
           CAST(CAST(SUM(x) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_x_e4,
           CAST(CAST(SUM(y) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_y_e4,
           CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DECIMAL(38,8))
                * 100000000 AS BIGINT) AS sum_xy_e8,
           CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DECIMAL(38,8))
                * 100000000 AS BIGINT) AS sum_xx_e8,
           CAST(CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DECIMAL(38,8))
                * 100000000 AS BIGINT) AS sum_yy_e8
         FROM li GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_quartiles" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v,
                           event_id
                    FROM events),
              r AS (SELECT event_type, v,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY v, event_id) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM e)
         SELECT event_type,
           CAST(CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN v END)
                AS DECIMAL(38,4)) * 10000 AS BIGINT) AS p25_e4,
           CAST(CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                AS DECIMAL(38,4)) * 10000 AS BIGINT) AS p50_e4,
           CAST(CAST(MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN v END)
                AS DECIMAL(38,4)) * 10000 AS BIGINT) AS p75_e4
         FROM r
         WHERE rn = (n + 3) // 4 OR rn = (n + 1) // 2 OR rn = (n * 3 + 3) // 4
         GROUP BY event_type ORDER BY event_type""",
    "agg_mode" ->
      """WITH c AS (SELECT lang, source, count(*) AS cnt
                    FROM documents GROUP BY 1, 2),
              r AS (SELECT lang, source, cnt,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY cnt DESC, source) AS rn
                    FROM c)
         SELECT lang, source AS mode_source, cnt
         FROM r WHERE rn = 1 ORDER BY lang""",
    "agg_exact_median" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v,
                           event_id
                    FROM events),
              r AS (SELECT event_type, v,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY v, event_id) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM e)
         SELECT event_type,
                CAST(CAST(SUM(v) * (CASE WHEN COUNT(*) = 1 THEN 2 ELSE 1 END)
                     AS DECIMAL(38,4)) * 10000 AS BIGINT) AS med2_e4
         FROM r
         WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
            OR rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
         GROUP BY event_type ORDER BY event_type""",
    "agg_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
                count(*) AS n,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS qty_sum_e4
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "agg_groupby_sums" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS n_rows,
         CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_qty_e4,
         CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_price_e4,
         CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) / count(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS avg_qty_e6
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_multi_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_profile_stats" ->
      """WITH w AS (SELECT count(*) AS n_rows,
           count(l_quantity) AS c1_nn, count(DISTINCT l_quantity) AS c1_nd,
           min(CAST(floor(l_quantity * 10000) AS BIGINT)) AS c1_min,
           max(CAST(floor(l_quantity * 10000) AS BIGINT)) AS c1_max,
           count(l_extendedprice) AS c2_nn, count(DISTINCT l_extendedprice) AS c2_nd,
           min(CAST(floor(l_extendedprice * 10000) AS BIGINT)) AS c2_min,
           max(CAST(floor(l_extendedprice * 10000) AS BIGINT)) AS c2_max,
           count(l_discount) AS c3_nn, count(DISTINCT l_discount) AS c3_nd,
           min(CAST(floor(l_discount * 10000) AS BIGINT)) AS c3_min,
           max(CAST(floor(l_discount * 10000) AS BIGINT)) AS c3_max,
           count(l_tax) AS c4_nn, count(DISTINCT l_tax) AS c4_nd,
           min(CAST(floor(l_tax * 10000) AS BIGINT)) AS c4_min,
           max(CAST(floor(l_tax * 10000) AS BIGINT)) AS c4_max
         FROM lineitem)
         SELECT 'l_quantity' AS col_name, n_rows, c1_nn AS non_null,
                c1_nd AS n_distinct, c1_min AS min_e4, c1_max AS max_e4 FROM w
         UNION ALL SELECT 'l_extendedprice', n_rows, c2_nn, c2_nd, c2_min, c2_max FROM w
         UNION ALL SELECT 'l_discount', n_rows, c3_nn, c3_nd, c3_min, c3_max FROM w
         UNION ALL SELECT 'l_tax', n_rows, c4_nn, c4_nd, c4_min, c4_max FROM w
         ORDER BY col_name""",
    "agg_pivot" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS n_click,
                count(*) FILTER (WHERE event_type = 'error') AS n_error,
                count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                count(*) FILTER (WHERE event_type = 'view') AS n_view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, '@ALL') AS rf,
                COALESCE(l_linestatus, '@ALL') AS ls,
                count(*) AS n_rows,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_qty_e4
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY rf, ls""",
    "agg_rollup" ->
      """SELECT COALESCE(r_name, '@ALL') AS region_name,
                COALESCE(n_name, '@ALL') AS nation_name,
                count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY region_name, nation_name""",
    "agg_cube" ->
      """SELECT COALESCE(l_returnflag, '@ALL') AS rf,
                COALESCE(l_linestatus, '@ALL') AS ls,
                count(*) AS n_rows,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_qty_e4
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
         GROUP BY o_custkey HAVING count(*) > 12
         ORDER BY o_custkey""",
    "agg_collect_sorted" ->
      """SELECT n_nationkey, string_agg(s_name, '|' ORDER BY s_name) AS supplier_names
         FROM nation JOIN supplier ON s_nationkey = n_nationkey
         GROUP BY n_nationkey ORDER BY n_nationkey""")
}
