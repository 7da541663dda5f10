package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("vardaspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Run `body` with GlobalRank's small-input threshold at `bytes`
    * (`0`: always the chunked form; `Long.MaxValue`: one window for any
    * input of known size). */
  def withLocalMaxBytes[T](bytes: Long)(body: => T): T = {
    spark.conf.set("spark.graft.globalRank.localMaxBytes", bytes.toString)
    try body finally spark.conf.unset("spark.graft.globalRank.localMaxBytes")
  }
  /** The store buckets the freqstore scans in `df`'s executed plan read,
    * one per input partition (a DSv2 scan has no `inputFiles`), and the
    * number of such scans. Plans `df` if it has not run. */
  def scannedBuckets(df: DataFrame): (Set[Int], Int) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b }
    (scans.flatMap(_.inputPartitions).collect {
      case p: graft.sources.FreqStorePartition => p.bkt }.toSet, scans.size)
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
