package graft.ops

import graft.{Q, Tables}
import graft.Tables.{dec4, scaledLong}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.9 streaming operators.
  *
  * Each key has a batch-equivalent DataFrame form (what Verify/the oracle
  * check) and the same *transform* is reusable on a `readStream` input —
  * StreamingSpec drives them through MemoryStream and asserts parity.
  * This mirrors how the reference's Celery import tasks become a
  * continuously-running incremental query (SURVEY.md §3): state lives in
  * the streaming state store, keyed by (window, type) or user — both
  * partition cleanly across executors at scale.
  */
object Streaming {

  /** Shared transform: per (event_type, 1-hour tumbling window) counts and
    * exact DECIMAL value sums. Works on batch and streaming inputs. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        scaledLong(sum(dec4(col("value"))).cast(DecimalType(18, 4)), 4)
          .as("val_sum_e4"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("val_sum_e4"))

  val streamTumbling: Q = (s, d) =>
    tumblingAgg(Tables.events(s, d)).orderBy("ws", "event_type")

  /** 1-hour windows sliding every 30 minutes: each event lands in 2
    * windows (Spark expands via its window generator; the oracle unions
    * the two shifted 30-minute buckets). */
  def slidingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))

  val streamSliding: Q = (s, d) =>
    slidingAgg(Tables.events(s, d)).orderBy("ws", "event_type")

  /** Batch sessionization: gap-and-island with a 30-minute gap. A new
    * session starts when the microsecond delta to the previous event is
    * strictly greater than the gap — Spark's `session_window` merges
    * touching windows, i.e. an exact-gap delta still extends the session
    * (StreamingSpec pins this boundary against session_window itself).
    * Output matches the oracle's identical SQL formulation. */
  val streamSession: Q = (s, d) => sessionAgg(Tables.events(s, d))

  /** Shared gap-and-island sessionization (30-minute gap). */
  def sessionAgg(events: DataFrame): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val tu = expr("unix_micros(cast(ts as timestamp))")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tu", tu)
      .withColumn("news",
        when(lag(col("tu"), 1).over(w).isNull
          || col("tu") - lag(col("tu"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("news")).over(run))
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("tu")) - min(col("tu"))).as("dur_us"))
      .select("user_id", "session_start", "n_events", "dur_us")
      .orderBy("user_id", "session_start")
  }

  /** Exact-once dedup by event_id over a duplicated input (self-union) —
    * the Spark analog of the reference's checksum-based duplicate-skip
    * (varda/models.py :: DataSource.checksum [U]). The streaming form is
    * `withWatermark + dropDuplicates` (StreamingSpec). */
  val streamDedup: Q = (s, d) => {
    val e = Tables.events(s, d)
    e.unionAll(e).dropDuplicates("event_id").orderBy("event_id")
  }

  /** Batch emulation of watermark semantics: replay in arrival (event_id)
    * order, track the running max event time, drop rows later than 10
    * minutes behind it, then count per tumbling hour. Oracle-checked as of
    * round 3 (the semantics are plain running-max SQL; the round-2 form
    * was only declared no-oracle alongside its global-window plan); the
    * true streaming path (withWatermark drop behavior) is additionally
    * asserted in StreamingSpec via MemoryStream.
    *
    * The running max is [[GlobalRank.withGroupedRunningMax]] with no
    * group columns, so above GlobalRank's small-input threshold it is
    * never a single-partition window: arrival order splits into
    * value-deterministic chunks of the id range, each chunk computes its
    * local running max, and the max over all EARLIER chunks arrives via
    * an O(chunks)-row broadcast. `event_id` is unique and non-null, so
    * it is a total order. */
  val streamLateWatermark: Q = (s, d) => {
    val lateUs = 10L * 60 * 1000000
    val base = Tables.events(s, d)
      .withColumn("tu", expr("unix_micros(cast(ts as timestamp))"))
    GlobalRank.withGroupedRunningMax(base, Nil, Seq(col("event_id")),
        col("tu"), "max_tu")
      .filter(col("tu") >= col("max_tu") - lateUs)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_kept"))
      .select(col("window.start").as("ws"), col("n_kept"))
      .orderBy("ws")
  }

  /** Shared stream-stream interval-join transform: for every click, the
    * same user's views within the next 4 hours. Equi-key (user_id) +
    * time-range residual — the join shape Structured Streaming supports
    * with watermarks on both sides (state eviction needs the time bound),
    * and the same plan shape as the varda coverage join: hash-partition on
    * the key, range-filter inside the partition. */
  def intervalJoinPairs(clicks: DataFrame, views: DataFrame,
      joinType: String = "inner"): DataFrame =
    clicks.join(views,
        col("a_user") === col("b_user")
          && col("b_ts") >= col("a_ts")
          && col("b_ts") <= col("a_ts") + expr("INTERVAL 4 HOURS"),
        joinType)
      .select(col("a_id"), col("b_id"))

  /** Left side of the interval join (clicks). */
  def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))

  /** Right side of the interval join (views). */
  def viewSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))

  /** Batch-equivalent declared form; the streaming path (both sides
    * watermarked, same join condition) is asserted against this in
    * StreamingSpec. */
  val streamStreamJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    intervalJoinPairs(clickSide(e), viewSide(e)).orderBy("a_id", "b_id")
  }

  /** Per-user running state, final snapshot: event count + latest
    * event_type. Batch form = groupBy + max_by; streaming form =
    * flatMapGroupsWithState (StreamingSpec asserts the same snapshot). */
  val streamStatefulRunning: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"))
      .orderBy("user_id")

  /** Typed event row for the stateful streaming path (tests feed these
    * through MemoryStream). */
  case class EvRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String)
  /** Mutable-per-key state for the running snapshot. */
  case class UserAgg(n_events: Long, last_ts: Long, last_id: Long,
      last_type: String)

  /** The streaming form of stream_stateful_running: per-user running
    * count + latest event_type maintained in the state store via
    * flatMapGroupsWithState (update mode). Emits the refreshed state per
    * key per micro-batch; the final emission per key equals the batch
    * max_by snapshot (asserted in StreamingSpec). */
  def runningStateStream(ds: org.apache.spark.sql.Dataset[EvRow])
      : org.apache.spark.sql.Dataset[(Long, Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserAgg, (Long, Long, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[EvRow], state: GroupState[UserAgg]) =>
          var st = state.getOption.getOrElse(UserAgg(0, Long.MinValue, Long.MinValue, ""))
          evs.foreach { e =>
            val t = e.ts.getTime
            val newer = t > st.last_ts || (t == st.last_ts && e.event_id > st.last_id)
            st = UserAgg(st.n_events + 1,
              if (newer) t else st.last_ts,
              if (newer) e.event_id else st.last_id,
              if (newer) e.event_type else st.last_type)
          }
          state.update(st)
          Iterator((uid, st.n_events, st.last_type))
      }
  }

  /** A CDC changelog record for the streaming apply path (price boxed —
    * D records carry no payload). */
  case class CdcRow(k: Long, seq: Long, op: String, status: String,
      price_e4: java.lang.Long)
  /** Last-op-seen state per key. */
  case class CdcState(seq: Long, op: String, status: String,
      price_e4: java.lang.Long)

  /** Streaming CDC tail: per-key LAST-op state maintained in the state
    * store via flatMapGroupsWithState (update mode) — records may arrive
    * across micro-batches in any order; a stale seq never overwrites a
    * newer one. Emits the refreshed (k, op, status, price) snapshot per
    * key per micro-batch; the final emission per key equals the batch
    * `max_by(…, seq)` collapse inside [[Joins.applyCdc]], so merging the
    * final snapshots into the store yields exactly the batch
    * `merge_cdc_apply` result (asserted in StreamingSpec). */
  def cdcStateStream(ds: org.apache.spark.sql.Dataset[CdcRow])
      : org.apache.spark.sql.Dataset[(Long, Long, String, String, java.lang.Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState[CdcState, (Long, Long, String, String, java.lang.Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: Long, recs: Iterator[CdcRow], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(Long.MinValue, null, null, null))
          recs.foreach { r =>
            if (r.seq > st.seq) st = CdcState(r.seq, r.op, r.status, r.price_e4)
          }
          state.update(st)
          Iterator((k, st.seq, st.op, st.status, st.price_e4))
      }
  }

  /** Windowed top-k: the per-(window, event_type) counts are the
    * STREAMABLE half (same maintained state as [[tumblingAgg]];
    * StreamingSpec proves batch/stream parity on it), and the top-3
    * ranking runs over that O(windows × types) AGGREGATED frame — the
    * serving-side read every dashboard does against the maintained
    * counts store, never a rank over raw events. */
  def windowTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"))

  val streamTopk: Q = (s, d) => {
    val w = Window.partitionBy("ws")
      .orderBy(col("n_events").desc, col("event_type"))
    windowTypeCounts(Tables.events(s, d))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("ws", "rn")
  }

  val queries: Map[String, Q] = Map(
    "stream_topk" -> streamTopk,
    "stream_tumbling" -> streamTumbling,
    "stream_sliding" -> streamSliding,
    "stream_session" -> streamSession,
    "stream_dedup" -> streamDedup,
    "stream_late_watermark" -> streamLateWatermark,
    "stream_stream_join" -> streamStreamJoin,
    "stream_stateful_running" -> streamStatefulRunning)

  val oracle: Map[String, String] = Map(
    "stream_topk" ->
      """WITH c AS (SELECT time_bucket(INTERVAL '1 hour',
                      CAST(ts AS TIMESTAMP)) AS ws,
                    event_type, count(*) AS n_events
             FROM events GROUP BY 1, 2),
            r AS (SELECT ws, event_type, n_events,
                    row_number() OVER (PARTITION BY ws
                      ORDER BY n_events DESC, event_type) AS rn
                  FROM c)
         SELECT ws, event_type, n_events, rn
         FROM r WHERE rn <= 3 ORDER BY ws, rn""",
    "stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
                event_type, count(*) AS n_events,
                CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS val_sum_e4
         FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",
    "stream_sliding" ->
      """SELECT ws, event_type, count(*) AS n_events FROM (
           SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS ws,
                  event_type FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                    - INTERVAL '30 minutes' AS ws,
                  event_type FROM events) t
         GROUP BY ws, event_type ORDER BY ws, event_type""",
    "stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
            f AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
                                   OR tu - lag(tu) OVER w > 1800000000
                                 THEN 1 ELSE 0 END AS news
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            g AS (SELECT *, SUM(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
                max(tu) - min(tu) AS dur_us
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "stream_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",
    "stream_late_watermark" ->
      """WITH e AS (SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
            f AS (SELECT *, max(tu) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_tu
                  FROM e)
         SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
                count(*) AS n_kept
         FROM f WHERE tu >= max_tu - 600000000
         GROUP BY 1 ORDER BY ws""",
    "stream_stream_join" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id
         FROM events a JOIN events b ON a.user_id = b.user_id
          AND a.event_type = 'click' AND b.event_type = 'view'
          AND epoch_us(CAST(b.ts AS TIMESTAMP))
              BETWEEN epoch_us(CAST(a.ts AS TIMESTAMP))
                  AND epoch_us(CAST(a.ts AS TIMESTAMP)) + CAST(14400000000 AS BIGINT)
         ORDER BY a_id, b_id""",
    "stream_stateful_running" ->
      """SELECT c.user_id, c.n_events, l.event_type AS last_type
         FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) c
         JOIN (SELECT user_id, event_type FROM (
                 SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events) t WHERE rn = 1) l
           ON c.user_id = l.user_id
         ORDER BY c.user_id""")
}
