package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-key layer profile. For each key and rep it prints the builder call
  * (`build_s`), physical planning (`plan_s`, `queryExecution.executedPlan`),
  * execution (`exec_s`, `count()`), `rows`, the `jobs`, `stages` and
  * `tasks` the rep ran, `driver_gap_s` (rep wall time no job covered) and
  * `compiles`: the classes Spark's code generator compiled during the rep
  * (the JVM-wide generated-class cache holds 100, so a warm working set
  * larger than that recompiles on every rep).
  * The last stdout line is one JSON object holding each key's last (warm)
  * rep. For an AQE-off profile pass
  * `EXTRA_JAVA_OPTS=-Dspark.sql.adaptive.enabled=false`.
  *
  * Usage: tools/run_main.sh tools.ProfKeys <sfDir> <reps> <key>... */
object ProfKeys {
  private case class Job(start: Long, var end: Long, stages: Int,
      var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProfKeys <sfDir> <reps> <key>...")
    val (sfDir, reps, keys) = (args(0), args(1).toInt, args.drop(2).toSeq)
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val spark = graft.Session.local()

    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // stage → job so concurrent jobs' tasks attribute correctly (the
    // commit path deliberately overlaps jobs; attributing to the most
    // recently started job miscounts exactly those workloads)
    val stageJob = mutable.HashMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.time, e.time, e.stageInfos.size)
          e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
        }
    })

    def sec(from: Long, to: Long): String = f"${(to - from) / 1e9}%.3f"
    val warm = keys.map { key =>
      val fn = graft.SparkEntry.queries(key)
      key -> (1 to reps).map { rep =>
        jobs.synchronized { jobs.clear(); stageJob.clear() }
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.count()
        val t3 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        Thread.sleep(300) // let the listener bus drain
        val js = jobs.synchronized(jobs.values.toSeq)
        // union of the job spans inside the rep: overlapping jobs count once
        var covered = 0L
        var reach = w0
        for ((s, e) <- js.map(j => (math.max(j.start, w0), math.min(j.end, w1)))
            .sortBy(_._1) if e > reach) {
          covered += e - math.max(s, reach)
          reach = e
        }
        val fields = Seq(
          "build_s" -> sec(t0, t1), "plan_s" -> sec(t1, t2),
          "exec_s" -> sec(t2, t3), "rows" -> rows.toString,
          "jobs" -> js.size.toString, "stages" -> js.map(_.stages).sum.toString,
          "tasks" -> js.map(_.tasks).sum.toString,
          "driver_gap_s" -> f"${(w1 - w0 - covered) / 1e3}%.3f",
          "compiles" -> compiles.toString)
        println(s"[profkeys] $key rep$rep " +
          fields.map { case (k, v) => s"$k=$v" }.mkString(" "))
        fields
      }.last
    }
    val perKey = warm.map { case (key, fields) =>
      s""""$key":""" + fields.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","cpus":"${graft.Session.cpus}",""" +
      s""""reps":$reps,"keys":$perKey}""")
    spark.stop()
  }
}
