package graft.perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans around the layers' public calls plus Spark's own job, stage and
  * query events, all kept in memory and written once at exit. Disabled
  * (untraced runs) it only runs the bodies.
  *
  * Times are epoch milliseconds with sub-millisecond digits, so spans
  * line up with the scheduler's job timestamps: `run.py` attributes each
  * job, stage and query to the innermost span whose window holds it. A
  * single closed-loop client makes that window exact, also for jobs that
  * the store launches from its own `Future` threads. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Double, codegen0: Long) {
    var end = 0.0
    var codegen = 0L
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val marks = ArrayBuffer.empty[(String, Double)]
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()

  private val listener = new SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, (e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (t0, st) =>
        jobs.add(s"""{"id": ${e.jobId}, "start": $t0, "end": ${e.time}, "stages": [${st.mkString(",")}]}""")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(
        s"""{"id": ${i.stageId}, "tasks": ${i.numTasks}, "run_ms": ${m.executorRunTime}, """ +
          s""""gc_ms": ${m.jvmGCTime}, "input_bytes": ${m.inputMetrics.bytesRead}, """ +
          s""""shuffle_read_bytes": ${m.shuffleReadMetrics.totalBytesRead}, """ +
          s""""shuffle_write_bytes": ${m.shuffleWriteMetrics.bytesWritten}, """ +
          s""""spill_bytes": ${m.memoryBytesSpilled + m.diskBytesSpilled}}""")
    }
  }
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    Tracer.queries.clear()
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, now, compiles)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = now
        s.codegen = compiles - s.codegen0
        stack = stack.tail
      }
    }

  /** Attach a count (result rows, bytes written) to the latest op span. */
  def annotate(key: String, value: Long): Unit =
    if (enabled) spans.findLast(_.layer == "op").foreach(_.attrs(key) = value)

  def mark(name: String): Unit = if (enabled) marks += (name -> now)

  /** Drain the listener bus so every job, stage and query event of the
    * run has been delivered before the trace is written. */
  def finish(): Unit =
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def write(path: String): Unit = {
    val sp = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, """ +
        s""""start": ${s.start}, "end": ${s.end}, "codegen": ${s.codegen}, "attrs": {$attrs}}"""
    }
    val mk = marks.map { case (n, t) => s"${Json.str(n)}: $t" }
    val body =
      s"""{"run": ${Json.str(spark.sparkContext.applicationId)},
         |"marks": {${mk.mkString(", ")}},
         |"spans": [${sp.mkString(",\n")}],
         |"jobs": [${jobs.asScala.mkString(",\n")}],
         |"stages": [${stages.asScala.mkString(",\n")}],
         |"queries": [${Tracer.queries.asScala.mkString(",\n")}]}
         |""".stripMargin
    Files.writeString(Paths.get(path), body)
  }
}

object Tracer {
  private[perfbench] val queries = new ConcurrentLinkedQueue[String]()
}

/** Registered through `spark.sql.queryExecutionListeners`, so cloned
  * sessions (the store's commit session) report too. Records, per
  * executed query, its planning phases, plan size and what its scans
  * opened. */
class QueryListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.isEmpty) return
    val plan = qe.executedPlan
    val nodes = collect(plan) { case p: SparkPlan => p }
    def metric(p: SparkPlan, m: String): Long = p.metrics.get(m).fold(0L)(_.value)
    val scans = nodes.filter(_.nodeName.startsWith("Scan"))
    val dsv2 = nodes.collect { case b: BatchScanExec => b }
    val dsv2Files = dsv2.flatMap(_.inputPartitions).map {
      case p: graft.sources.FreqStorePartition => p.numerFiles.size + p.denomFiles.size
      case _ => 1
    }.sum
    Tracer.queries.add(
      s"""{"start": ${phases.map(_.startTimeMs).min}, "end": ${phases.map(_.endTimeMs).max}, """ +
        s""""plan_ms": ${phases.map(_.durationMs).sum}, "nodes": ${nodes.size}, """ +
        s""""exchanges": ${nodes.count(_.isInstanceOf[Exchange])}, """ +
        s""""files": ${scans.map(metric(_, "numFiles")).sum}, """ +
        s""""scan_rows": ${scans.map(metric(_, "numOutputRows")).sum}, """ +
        s""""dsv2_scans": ${dsv2.size}, "dsv2_files": $dsv2Files}""")
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
