package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.varda.{FreqStore, VardaOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one closed-loop client thread driving the
  * engine at `local[K]` through an operation plan that `run.py` derived
  * from the seed. It writes `result.json` (per-op timings, failures,
  * setup phases, environment) and, when traced, `trace.json` (spans,
  * jobs, stages and query plans) into the run directory; `run.py`
  * checks the dumped outputs and turns both into metrics.
  *
  * Usage: Harness <plan.json> */
object Harness {
  private val services =
    "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val out = plan.get("out").asText
    // the DSv2 `freqstore` source resolves through this services file;
    // without it every freqstore read fails in milliseconds and would
    // time as a fast op, so refuse to measure anything
    val reg = Option(getClass.getClassLoader.getResource(services))
      .map(u => scala.io.Source.fromURL(u).mkString).getOrElse("")
    if (!reg.contains("graft.sources.FreqStoreDataSource")) {
      System.err.println(s"[perfbench] $services does not register the freqstore source")
      sys.exit(3)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = plan.get("cpus").asInt
    val traced = plan.get("trace").asInt == 1
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/local")
      .config("spark.graft.scratchDir", s"$out/scratch")
    if (traced) builder.config("spark.sql.queryExecutionListeners",
      classOf[QueryListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val res = new Result(tracer)
    res.phase("session", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    res.put("jvm", Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"))
    try plan.get("workload").asText match {
      case "store" => new StoreWorkload(spark, plan, tracer, res).run()
      case _       => new PassWorkload(spark, plan, tracer, res).run()
    } finally {
      tracer.finish()
      res.write(s"$out/result.json")
      if (tracer.enabled) tracer.write(s"$out/trace.json")
      spark.stop()
    }
  }

  /** The DuckDB oracle SQL of the dumped keys, for `tools/check.py`. */
  def writeOracle(out: String, keys: Seq[String]): Unit = {
    val sql = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(v => s"${Json.str(k)}: ${Json.str(v)}"))
    Files.createDirectories(Paths.get(s"$out/dump"))
    Files.writeString(Paths.get(s"$out/dump/oracle_sql.json"), sql.mkString("{", ",\n", "}\n"))
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
}

/** Per-op samples, failures and setup phases, written as `result.json`. */
final class Result(tracer: Tracer) {
  private val ops = scala.collection.mutable.ArrayBuffer.empty[String]
  private val phases = scala.collection.mutable.ArrayBuffer.empty[String]
  private val extra = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  def failures: Int = failed

  def phase(name: String, seconds: Double): Unit =
    phases += s"${Json.str(name)}: $seconds"

  private val liveHeap = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** The heap still in use after full GCs (MB): the run's retained
    * memory at this point. Called after set-up and after the last pass
    * every run makes (plan `heap_after`), outside every timing.
    * The listener bus is drained first, so queued events do not count,
    * and the GC repeats while Spark's ContextCleaner, which frees the
    * blocks of collected RDDs and broadcasts on its own thread, still
    * releases memory. */
  def sampleHeap(sc: org.apache.spark.SparkContext): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    org.apache.spark.perfbench.Bus.drain(sc)
    var used = Long.MaxValue
    var rounds = 0
    var settled = false
    while (!settled && rounds < 5) {
      System.gc()
      val now = mem.getHeapMemoryUsage.getUsed
      settled = used - now < (1L << 20)
      used = math.min(used, now)
      rounds += 1
      if (!settled) Thread.sleep(250)
    }
    liveHeap += used / 1048576.0
  }

  def put(name: String, json: String): Unit = extra += s"${Json.str(name)}: $json"

  /** Time one closed-loop op. A thrown op counts as failed and its
    * fast-fail time is kept out of the samples. */
  def op[T](kind: String, key: String, pass: Int)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(s"$kind:$key", "op")(body)
      ops += s"""{"kind": ${Json.str(kind)}, "key": ${Json.str(key)}, "pass": $pass, "s": ${(System.nanoTime() - t0) / 1e9}}"""
      Some(v)
    } catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] $kind $key failed: $e")
      None
    }
  }
  /** A wrong result found by an in-JVM check counts its op as failed. */
  def wrong(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] wrong result: $what")
  }

  def write(path: String): Unit = {
    val body = Seq(
      s""""attempted": $attempted""", s""""failed": $failed""",
      s""""phases": {${phases.mkString(", ")}}""",
      s""""ops": [${ops.mkString(",\n")}]""",
      s""""live_heap_mb": ${liveHeap.mkString("[", ", ", "]")}""") ++ extra
    Files.writeString(Paths.get(path), body.mkString("{", ",\n", "}\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** `oneshot`: a warm-up pass that also dumps each key's output once for
  * the oracle check, then timed passes over the
  * keys (each pass in its own seeded order) materialized through the
  * `noop` sink, until `seconds` have passed and at least `min_samples`
  * per-key samples exist. */
final class PassWorkload(spark: SparkSession, plan: JsonNode, tracer: Tracer,
    res: Result) {
  private val data = plan.get("data").asText
  private val out = plan.get("out").asText

  private def build(key: String): DataFrame =
    tracer.span("entry", "entry")(SparkEntry.queries(key)(spark, data))

  /** One key: build, plan, materialize. */
  private def runKey(key: String): Unit = {
    val df = build(key)
    // the write below plans again; the extra planning is traced-only
    if (tracer.enabled)
      tracer.span("catalyst", "catalyst")(df.queryExecution.executedPlan)
    tracer.span("exec", "exec")(df.write.format("noop").mode("overwrite").save())
  }

  def run(): Unit = {
    val keys = Harness.strings(plan.get("keys"))
    val t0 = System.nanoTime()
    // warm-up pass = the correctness dump: each output once, to parquet
    for (k <- keys) res.op("dump", k, -1) {
      val df = build(k)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/dump/$k")
    }
    res.phase("warmup", (System.nanoTime() - t0) / 1e9)
    res.sampleHeap(spark.sparkContext)
    Harness.writeOracle(out, keys)
    val seconds = plan.get("seconds").asDouble
    val minSamples = plan.get("min_samples").asInt
    val heapAfter = plan.get("heap_after").asInt
    val passes = plan.get("passes").elements.asScala.map(Harness.strings).toSeq
    val m0 = System.nanoTime()
    var n = 0
    var samples = 0
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    tracer.mark("measure")
    while (n < passes.size &&
        ((System.nanoTime() - m0) / 1e9 < seconds || samples < minSamples)) {
      val p0 = System.nanoTime()
      var ok = true
      tracer.span(s"pass:$n", "pass") {
        for (k <- passes(n)) {
          if (res.op("query", k, n)(runKey(k)).isEmpty) ok = false
          else samples += 1
        }
      }
      // a pass with a failed key is kept out of pass_s
      if (ok) passS += (System.nanoTime() - p0) / 1e9
      if (n == heapAfter) res.sampleHeap(spark.sparkContext)
      n += 1
    }
    res.put("pass_s", passS.mkString("[", ", ", "]"))
    res.put("measure_s", ((System.nanoTime() - m0) / 1e9).toString)
  }
}

/** `store`: a FreqStore on a cloned session with the import settings
  * (8 partitions, AQE off). Set-up imports the initial sample batches
  * and compacts; each timed cycle commits a held-out sample batch, runs
  * point / range / expression-filtered lookups, retracts a sample set,
  * reads the pre-retraction generation through the DSv2 source, compacts,
  * and looks up again plus a DSv2 extent read. Every lookup is checked
  * against the same generation's `serve()` filtered to its probes; the
  * final `serve()` is dumped for the `varda_freq_incremental` oracle
  * over the samples present at the end. */
final class StoreWorkload(spark: SparkSession, plan: JsonNode, tracer: Tracer,
    res: Result) {
  private val data = plan.get("data").asText
  private val out = plan.get("out").asText
  private val dir = s"$out/scratch/store"
  private val s2 = spark.newSession()
  s2.conf.set("spark.sql.shuffle.partitions", "8")
  s2.conf.set("spark.sql.adaptive.enabled", "false")
  private val store = new FreqStore(s2, dir, nBuckets = 8)
  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var gen = 0L
  /** Time spent in checks and trace bookkeeping, kept out of pass_s. */
  private var untimedNs = 0L
  private def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }
  private val present = scala.collection.mutable.SortedSet.empty[Long]
  // the fixture is derived on first use, inside the timed import phase
  private lazy val (obsAll, covAll, smpAll) = {
    graft.Tables.registerViews(s2, data)
    (VardaOps.obs(s2, data).localCheckpoint(), VardaOps.cov(s2, data).localCheckpoint(),
      VardaOps.smp(s2, data).localCheckpoint())
  }

  private type Key = (String, Long, String, String)
  private type Rows = Map[Key, Seq[Any]]
  private val cols = Seq("chromosome", "position", "reference", "observed",
    "numer", "denom", "freq_ppm")
  private def rows(df: DataFrame): Rows =
    df.select(cols.map(col): _*).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) -> r.toSeq
    }.toMap

  /** Every file under the store and its size (traced runs only: what a
    * write added is the difference of two listings). */
  private def files(): Map[String, Long] = {
    val it = fs.listFiles(new Path(dir), true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getLen }
    b.result()
  }
  /** Run a mutating op; when traced, annotate it with the bytes it wrote. */
  private def written(body: => Unit): Unit =
    if (!tracer.enabled) body
    else {
      val before = untimed(files())
      body
      untimed(tracer.annotate("bytes_written", files().collect {
        case (f, n) if !before.contains(f) => n }.sum))
    }

  private def commit(samples: Seq[Long], pass: Int, timed: Boolean): Unit = {
    val in = col("sample_id").isin(samples: _*)
    val (o, c, s) = (obsAll.filter(in), covAll.filter(in), smpAll.filter(in))
    val g = gen; gen += 1
    present ++= samples
    if (!timed) store.commit(g, o, c, s)
    else {
      written(res.op("commit", samples.mkString("+"), pass)(
        tracer.span("commit", "freqstore")(store.commit(g, o, c, s))))
      if (tracer.enabled) untimed {
        // the batch's own parquet bytes, the denominator of write_amp
        val bd = s"$out/scratch/batch"
        o.write.mode("overwrite").parquet(s"$bd/o")
        c.write.mode("overwrite").parquet(s"$bd/c")
        s.write.mode("overwrite").parquet(s"$bd/s")
        tracer.annotate("batch_bytes", fs.getContentSummary(new Path(bd)).getLength)
        tracer.annotate("generations", store.generations.size.toLong)
        fs.delete(new Path(bd), true)
      }
    }
  }

  private def points(n: JsonNode): Seq[(String, Long)] =
    n.elements.asScala.map(p => (p.get(0).asText, p.get(1).asLong)).toSeq

  private def layerOf(kind: String) = if (kind == "asOf") "sources" else "freqstore"

  /** Time a lookup and compare it with the expected rows. */
  private def lookup(kind: String, pass: Int, truth: Rows, want: Key => Boolean)(
      df: => DataFrame): Unit =
    res.op("lookup", kind, pass)(tracer.span(kind, layerOf(kind))(rows(df))).foreach { got =>
      tracer.annotate("result_rows", got.size.toLong)
      if (got != truth.filter { case (k, _) => want(k) })
        res.wrong(s"$kind (pass $pass) differs from serve() at its generation")
    }

  private def lookups(c: JsonNode, pass: Int, truth: Rows): Unit = {
    val pts = points(c.get("points"))
    for (group <- pts.grouped(c.get("point_batch").asInt)) {
      val g = group.toSet
      lookup("lookupPoints", pass, truth, k => g((k._1, k._2)))(store.lookupPoints(group))
    }
    for (r <- c.get("ranges").elements.asScala) {
      val (ch, b, e) = (r.get(0).asText, r.get(1).asLong, r.get(2).asLong)
      lookup("lookupRange", pass, truth, k => k._1 == ch && k._2 >= b && k._2 <= e)(
        store.lookupRange(ch, b, e))
    }
    val all = pts.toSet
    lookup("lookupPointsFiltered", pass, truth, k => all((k._1, k._2)))(
      store.lookupPointsFiltered(pts, col("sample_id") >= 0))
  }

  private def dsv2(asOf: Option[Long]): DataFrame = tracer.span("read", "sources") {
    val r = spark.read.format("freqstore")
    asOf.fold(r)(g => r.option("asOfGeneration", g.toString)).load(dir)
  }

  /** The DSv2 extent aggregate (min/max position, variant count). */
  private def extent(pass: Int, truth: Rows): Unit =
    res.op("lookup", "extent", pass)(tracer.span("extent", "sources")(
      dsv2(None).agg(min("position"), max("position"), count(lit(1))).collect()(0)))
      .foreach { r =>
        val ps = truth.keys.map(_._2)
        val exp = if (ps.isEmpty) Seq(null, null, 0L) else Seq(ps.min, ps.max, truth.size.toLong)
        if (r.toSeq != exp) res.wrong(s"extent (pass $pass): $r, expected $exp")
      }

  def run(): Unit = {
    val t0 = System.nanoTime()
    for (b <- plan.get("initial").elements.asScala) commit(Harness.longs(b), -1, timed = false)
    store.compact()
    res.phase("import", (System.nanoTime() - t0) / 1e9)
    val w0 = System.nanoTime()
    lookups(plan.get("warmup"), -1, rows(store.serve()))
    res.phase("warmup", (System.nanoTime() - w0) / 1e9)
    res.sampleHeap(spark.sparkContext)

    val seconds = plan.get("seconds").asDouble
    val minCycles = plan.get("min_cycles").asInt
    val heapAfter = plan.get("heap_after").asInt
    val cycles = plan.get("cycles").elements.asScala.toSeq
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    var n = 0
    tracer.mark("measure")
    while (n < cycles.size &&
        ((System.nanoTime() - m0) / 1e9 < seconds || n < minCycles)) {
      val c = cycles(n)
      val f0 = res.failures
      val p0 = System.nanoTime()
      val u0 = untimedNs
      tracer.span(s"cycle:$n", "pass") {
        commit(Harness.longs(c.get("add")), n, timed = true)
        val committed = gen - 1
        val truthC = untimed(rows(store.serve()))
        lookups(c, n, truthC)
        val drop = Harness.longs(c.get("drop"))
        val g = gen; gen += 1
        present --= drop
        written(res.op("retract", drop.mkString("+"), n)(tracer.span("retractSamples", "freqstore")(
          store.retractSamples(g, smpAll.filter(col("sample_id").isin(drop: _*))))))
        val truthR = untimed(rows(store.serve()))
        val pts = points(c.get("points"))
        val ptSet = pts.toSet
        lookup("asOf", n, truthC, k => ptSet((k._1, k._2)))(
          dsv2(Some(committed)).join(
            broadcast(spark.createDataFrame(pts).toDF("chromosome", "position")),
            Seq("chromosome", "position"), "left_semi"))
        written(res.op("compact", s"gen$g", n)(tracer.span("compact", "freqstore")(store.compact())))
        lookups(c, n, truthR)
        extent(n, truthR)
      }
      // a cycle's wall time without its checks and trace bookkeeping
      if (res.failures == f0) passS += (System.nanoTime() - p0 - (untimedNs - u0)) / 1e9
      if (n == heapAfter) res.sampleHeap(spark.sparkContext)
      n += 1
    }
    res.put("pass_s", passS.mkString("[", ", ", "]"))
    res.put("measure_s", ((System.nanoTime() - m0) / 1e9).toString)
    res.put("store_bytes", fs.getContentSummary(new Path(dir)).getLength.toString)
    // the final served state, for the oracle over the present samples
    res.put("present", present.mkString("[", ", ", "]"))
    store.serve().coalesce(1).write.mode("overwrite")
      .parquet(s"$out/dump/varda_freq_incremental")
    Harness.writeOracle(out, Seq("varda_freq_incremental"))
  }
}
