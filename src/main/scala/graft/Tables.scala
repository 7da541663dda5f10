package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

import scala.collection.concurrent.TrieMap

import graft.util.Standing

/** Per-sfDir parquet loaders, each a [[graft.util.Standing]] build per
  * (session, sfDir, table), plus the decimal-cast helpers every query uses
  * for oracle hash-match parity (SURVEY.md §0 discipline).
  *
  * At 100 TB each of these would be a partitioned table; reading through a
  * single `spark.read.parquet` keeps partition discovery, predicate
  * pushdown and column pruning in Catalyst's hands. Memoizing the
  * DataFrame objects keeps the ~72 bench queries from re-resolving schema
  * footers on every call (SURVEY.md §6: per-query fixed overhead dominates
  * the bench).
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer schemas keyed by (sfDir, table) — SESSION-free: the files
    * don't change, so a cloned session (`newSession`, used by the
    * FreqStore commit path for its conf overrides) resolves its reads
    * through `spark.read.schema(...)` instead of re-running the footer
    * schema-inference job per table (round-10: ~0.5 s of sequential
    * one-task jobs at the head of every store replay). */
  private val schemaCache =
    TrieMap.empty[(String, String), org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Standing.get(spark, "table", (sfDir, name)) {
      val path = s"$sfDir/$name.parquet"
      schemaCache.get((sfDir, name)) match {
        case Some(sch) => spark.read.schema(sch).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          schemaCache.put((sfDir, name), df.schema)
          df
      }
    }

  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  /** `events.ts` is INT64 TIMESTAMP(NANOS) in parquet; Spark reads it as
    * LongType (nanosAsLong, set in Verify/Bench builders). The data is
    * microsecond-aligned (verified: epoch_ns % 1000 == 0 everywhere), so
    * converting to a microsecond TIMESTAMP_NTZ is lossless and matches
    * DuckDB's `CAST(ts AS TIMESTAMP)` bit for bit. */
  def events(spark: SparkSession, d: String): DataFrame =
    Standing.get(spark, "events_ts", d) {
      val raw = table(spark, d, "events")
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000"))
            .cast(org.apache.spark.sql.types.TimestampNTZType))
      else raw
    }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Raw on-disk bytes of one table's parquet directory — the
    * size-gate input (r20): deterministic from the files, memoized per
    * (sfDir, table) so gated query builders pay a filesystem stat once
    * per JVM instead of a catalyst analyze+optimize pass per call
    * (~40 ms, measured as 12% of varda_annotate_multi's bench line when
    * the gate read `optimizedPlan.stats`). A failed stat returns 0 (the
    * small-input plan) uncached, logged to stderr, and is retried on the
    * next call. */
  private val sizeCache = TrieMap.empty[(String, String), Long]
  def inputBytes(spark: SparkSession, sfDir: String, name: String): Long =
    sizeCache.getOrElse((sfDir, name), {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val n = fs.getContentSummary(p).getLength
        sizeCache.put((sfDir, name), n)
        n
      } catch { case e: Exception =>
        System.err.println(s"[tables] inputBytes($p) failed, gating as 0 bytes: $e")
        0L
      }
    })

  /** Drop a short-lived CLONED session's standing builds and view
    * registration (`newSession` — the FreqStore replay, the rewrite
    * keys), so repeated calls do not accumulate SessionStates and
    * analyzed plans. Safe once its frames are built. */
  def releaseSession(spark: SparkSession): Unit = {
    Standing.release(spark)
    viewDir.remove(spark)
  }

  /** Register every table as a temp view so shared fixture SQL
    * (FIXTURES.md §2, referenced by bare table name on both engines) runs
    * identically through `spark.sql`. Idempotent per (session, sfDir).
    */
  private val viewDir = TrieMap.empty[SparkSession, String]
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val k = spark
    if (!viewDir.get(k).contains(sfDir)) {
      // sweep-on-miss (Standing's liveness rule): without it each stopped
      // session stays pinned as a map key for the JVM's lifetime
      viewDir.filterInPlace((sess, _) => !sess.sparkContext.isStopped)
      names.foreach {
        case "events" => events(spark, sfDir).createOrReplaceTempView("events")
        case n        => table(spark, sfDir, n).createOrReplaceTempView(n)
      }
      viewDir.put(k, sfDir)
    }
  }

  /** DOUBLE → DECIMAL(18,4) before any aggregation: decimal addition is
    * exact and order-independent, so Spark partition order vs DuckDB scan
    * order cannot change the hash (SURVEY.md §0). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Final-result money/ratio type, mirrored as DECIMAL(18,6) in oracle SQL. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Representation-stable final output (round-2 fix). The driver reads
    * Spark parquet via pandas (DECIMAL → Python `Decimal` objects) but the
    * DuckDB oracle via `.df()` (DECIMAL → float64), so a DECIMAL column in
    * a declared output schema can never hash-match even when the values
    * are identical. A decimal's digits ARE an integer: emit
    * `value × 10^scale` as BIGINT — exact, order-independent, and rendered
    * identically by every reader. Mirror in oracle SQL as
    * `CAST(CAST(x AS DECIMAL(38,s)) * 10^s AS BIGINT)`. Keep all internal
    * arithmetic DECIMAL; only the final select goes through this. */
  def scaledLong(dec: Column, scale: Int): Column = {
    val pow = math.pow(10, scale).toLong
    (dec.cast(DecimalType(38, scale)) * org.apache.spark.sql.functions.lit(pow))
      .cast(org.apache.spark.sql.types.LongType)
  }
}
