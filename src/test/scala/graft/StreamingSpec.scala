package graft

import java.sql.Timestamp

import graft.ops.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming forms of §2.9 driven through MemoryStream, and
  * batch/stream parity (SURVEY.md §5.2). */
class StreamingSpec extends AnyFunSuite {
  import Streaming.EvRow
  import TestSpark._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, uid: Long = 1, typ: String = "click"): EvRow =
    EvRow(id, ts(t), uid, typ)

  test("tumbling agg: streaming result equals batch result") {
    import spark.implicits._
    val rows = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
      ev(3, "2024-01-01 11:05:00", uid = 2, typ = "view"),
      ev(4, "2024-01-01 12:00:00"))
    val withVal = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val ms = MemoryStream[EvRow](spark)
    ms.addData(rows.take(2))
    ms.addData(rows.drop(2))
    val q = Streaming.tumblingAgg(withVal(ms.toDF()))
      .writeStream.outputMode("complete").format("memory").queryName("tumb").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumb").orderBy("ws", "event_type").collect().toSeq
    val batch = Streaming.tumblingAgg(withVal(rows.toDF()))
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed.map(_.toString) == batch.map(_.toString))
  }

  test("window-type counts (stream_topk's maintained state): stream equals batch") {
    import spark.implicits._
    val rows = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:10:00", typ = "view"),
      ev(3, "2024-01-01 10:20:00"), ev(4, "2024-01-01 11:05:00", typ = "view"))
    val ms = MemoryStream[EvRow](spark)
    ms.addData(rows.take(2)); ms.addData(rows.drop(2))
    val q = Streaming.windowTypeCounts(ms.toDF()
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}")))
      .writeStream.outputMode("complete").format("memory").queryName("wtc").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wtc").orderBy("ws", "event_type").collect().toSeq
    val batch = Streaming.windowTypeCounts(rows.toDF()
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}")))
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed.map(_.toString) == batch.map(_.toString))
  }

  test("streaming dropDuplicates with watermark dedups the replayed batch") {
    import spark.implicits._
    val rows = Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"))
    val ms = MemoryStream[EvRow](spark)
    ms.addData(rows)
    ms.addData(rows) // exact replay — every id is a duplicate
    val q = ms.toDF().withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("watermark drops late rows from closed windows") {
    import spark.implicits._
    val ms = MemoryStream[EvRow](spark)
    val agg = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // advance watermark past 11:00 + 10min so the 10:00 window closes
      ms.addData(ev(2, "2024-01-01 11:30:00"))
      q.processAllAvailable()
      // this row is 85 minutes behind the watermark (11:20) — must be dropped
      ms.addData(ev(3, "2024-01-01 10:20:00"))
      q.processAllAvailable()
      // close the 11:00 window too
      ms.addData(ev(4, "2024-01-01 13:00:00"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out("2024-01-01 10:00:00.0") == 1, s"late row leaked into closed window: $out")
  }

  test("streaming session_window with watermark emits closed sessions") {
    import spark.implicits._
    val ms = MemoryStream[EvRow](spark)
    val agg = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("ss"),
        col("n_events"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sess").start()
    try {
      // one two-event session, then a far-future event closes it
      ms.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 15:00:00"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    // the merged [10:00, 10:50) session emitted once the watermark passed
    assert(out == Set((1L, "2024-01-01 10:00:00.0", 2L)),
      s"unexpected closed sessions: $out")
  }

  test("session_window matches gap-and-island sessionization incl. exact-gap boundary") {
    import spark.implicits._
    // user 1: 10:00, 10:29:59 (same session), 11:00:00 (delta 30:01 > gap
    // → new session)
    // user 2: 10:00, 10:30:00 exactly — Spark merges touching session
    // windows, so an exact 30-minute delta still EXTENDS the session.
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:29:59"),
      ev(3, "2024-01-01 11:00:00"),
      ev(4, "2024-01-01 10:00:00", uid = 2), ev(5, "2024-01-01 10:30:00", uid = 2))
    val df = rows.toDF()
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val viaSessionWindow = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
    val viaGapIsland = Streaming.sessionAgg(df)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
    assert(viaSessionWindow == viaGapIsland)
    assert(viaSessionWindow.count(_._1 == 2L) == 1,
      "exact 30-minute delta must extend the session (touching windows merge)")
  }

  test("stream-stream interval join with watermarks equals the batch join") {
    import spark.implicits._
    val clicks = Seq(
      ev(1, "2024-01-01 10:00:00"),
      ev(2, "2024-01-01 20:00:00"),
      ev(3, "2024-01-01 10:30:00", uid = 2))
    val views = Seq(
      ev(10, "2024-01-01 11:00:00", typ = "view"),  // in 1's window
      ev(11, "2024-01-01 15:00:00", typ = "view"),  // outside (> 4 h after 1)
      ev(12, "2024-01-01 10:45:00", uid = 2, typ = "view"), // in 3's window
      ev(13, "2024-01-01 09:00:00", uid = 2, typ = "view")) // before 3
    val msA = MemoryStream[EvRow](spark); val msB = MemoryStream[EvRow](spark)
    msA.addData(clicks); msB.addData(views)
    val sa = Streaming.clickSide(msA.toDF()).withWatermark("a_ts", "1 hour")
    val sb = Streaming.viewSide(msB.toDF()).withWatermark("b_ts", "1 hour")
    val q = Streaming.intervalJoinPairs(sa, sb)
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try q.processAllAvailable() finally q.stop()
    val all = (clicks ++ views).toDF()
    val batch = Streaming.intervalJoinPairs(
        Streaming.clickSide(all), Streaming.viewSide(all))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(batch == Set((1L, 10L), (3L, 12L)))
  }

  test("outer stream-stream join emits unmatched clicks after the watermark closes their window") {
    import spark.implicits._
    val msA = MemoryStream[EvRow](spark); val msB = MemoryStream[EvRow](spark)
    val sa = Streaming.clickSide(msA.toDF()).withWatermark("a_ts", "1 hour")
    val sb = Streaming.viewSide(msB.toDF()).withWatermark("b_ts", "1 hour")
    val q = Streaming.intervalJoinPairs(sa, sb, "leftOuter")
      .writeStream.outputMode("append").format("memory").queryName("ssjo").start()
    try {
      // user 1's click matches a view; user 2's click never does
      msA.addData(Seq(ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 10:30:00", uid = 2)))
      msB.addData(Seq(ev(10, "2024-01-01 11:00:00", typ = "view")))
      q.processAllAvailable()
      // push the watermark far past click 2's [10:30, 14:30] match window
      // so its unmatched outer row can emit
      msA.addData(Seq(ev(3, "2024-01-02 10:00:00", uid = 3)))
      msB.addData(Seq(ev(11, "2024-01-02 10:00:00", uid = 3, typ = "view")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssjo").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, -1L), (3L, 11L)),
      s"outer join rows: $got")
  }

  test("flatMapGroupsWithState final snapshot equals batch stateful result") {
    import spark.implicits._
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", uid = 1, typ = "signup"),
      ev(2, "2024-01-01 10:30:00", uid = 1, typ = "click"),
      ev(3, "2024-01-01 09:00:00", uid = 2, typ = "view"),
      ev(4, "2024-01-01 10:30:00", uid = 1, typ = "purchase"),
      ev(5, "2024-01-01 11:00:00", uid = 2, typ = "error"))
    val ms = MemoryStream[EvRow](spark)
    ms.addData(rows.take(3))
    ms.addData(rows.drop(3))
    val q = Streaming.runningStateStream(ms.toDS())
      .toDF("user_id", "n_events", "last_type")
      .writeStream.outputMode("update").format("memory").queryName("state").start()
    try q.processAllAvailable() finally q.stop()
    // last emission per user wins
    val streamed = spark.table("state").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
    val batch = Streaming.streamStatefulRunning(spark, sf0001) // schema check only
    assert(batch.columns.toSeq == Seq("user_id", "n_events", "last_type"))
    val expected = rows.toDF()
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("lt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(streamed == expected,
      s"stream state $streamed != batch $expected")
  }

  test("streaming CDC state: final snapshot merge equals batch merge_cdc_apply") {
    import spark.implicits._
    import graft.ops.Streaming.CdcRow
    // out-of-order arrival across micro-batches: key 10's delete (seq 2)
    // lands BEFORE its update (seq 1) — the stale seq must not win
    val log = Seq(
      CdcRow(10, 2, "D", null, null),
      CdcRow(20, 1, "I", "NEW", 500L),
      CdcRow(10, 1, "U", "UPD", 101L),
      CdcRow(30, 1, "U", "UPD", 301L),
      CdcRow(40, 1, "D", null, null))
    val ms = MemoryStream[CdcRow](spark)
    ms.addData(log.take(2))
    ms.addData(log.drop(2))
    val q = graft.ops.Streaming.cdcStateStream(ms.toDS())
      .toDF("k", "seq", "op", "status", "price_e4")
      .writeStream.outputMode("update").format("memory").queryName("cdc").start()
    try q.processAllAvailable() finally q.stop()
    // last emission per key = final state; rebuild a log from it and
    // apply batch-side — must equal applying the full original log
    val finals = spark.table("cdc").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.toString).orNull,
        if (r.isNullAt(4)) null else java.lang.Long.valueOf(r.getLong(4)))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
    val store = Seq((10L, "OLD", 100L), (30L, "OLD", 300L), (40L, "OLD", 400L))
      .toDF("k", "status", "price_e4")
    val snapshotLog = finals.toSeq.map { case (k, (seq, op, st, pr)) =>
      (k, seq, op, st, pr.asInstanceOf[java.lang.Long])
    }.toDF("k", "seq", "op", "status", "price_e4")
    val fullLog = log.toDF()
    def rows(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Joins.applyCdc(store, df).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val got = rows(snapshotLog)
    assert(got == rows(fullLog), "snapshot-merge != full-log merge")
    // semantics spot check: 10 deleted, 20 inserted, 30 updated, 40 deleted
    assert(got == Set((20L, "NEW", 500L), (30L, "UPD", 301L)))
  }

  test("distributed late-watermark emulation equals the naive global-window form") {
    // round-3 rewrite check: the range-partitioned two-pass running max
    // must reproduce the single-partition global window bit for bit
    import org.apache.spark.sql.expressions.Window
    val lateUs = 10L * 60 * 1000000
    val w = Window.orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = Tables.events(spark, sf0001)
      .withColumn("tu", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("max_tu", max(col("tu")).over(w))
      .filter(col("tu") >= col("max_tu") - lateUs)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_kept"))
      .select(col("window.start").as("ws"), col("n_kept"))
      .orderBy("ws").collect().toSeq
    // localMaxBytes=0: at sf0.001 the default would run the very window
    // this compares against, so force the chunked running max
    val dist = withLocalMaxBytes(0L)(
      Streaming.streamLateWatermark(spark, sf0001).collect().toSeq)
    assert(dist.map(_.toString) == naive.map(_.toString))
  }
}
