package graft

import org.apache.spark.sql.SparkSession

/** The one local session every CLI main opens (`Bench`, `Verify`,
  * `Explain`, `tools.*`). The test suite and the benchmark harness keep
  * their own builders. */
object Session {
  /** `$SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark 4
      // otherwise refuses; read as long, Tables.events converts to micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
