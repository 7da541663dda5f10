package graft

import graft.ops.GlobalRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-pass distributed global rank equals Spark's single-partition
  * global window — and never plans one. The small-input path (one plain
  * window, chosen by [[GlobalRank.local]]) returns exactly the chunked
  * form's rows and schema at every public entry point. */
class GlobalRankSpec extends AnyFunSuite {
  import TestSpark._

  private def customers = Tables.customer(spark, sf0001)
  private val keys = Seq(col("c_acctbal").cast("decimal(18,4)"), col("c_custkey"))

  /** A test of the chunked (100 TB) form: `localMaxBytes=0` keeps the
    * sf0.001 inputs off the small-input path. */
  private def chunkedTest(name: String)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name)(withLocalMaxBytes(0L)(body))

  chunkedTest("two-pass global row_number equals the single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val expected = customers
      .select(col("c_custkey"),
        row_number().over(Window.orderBy(keys: _*)).as("rn"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = GlobalRank.withGlobalRowNumber(customers, keys, "rn", 8)
      .select("c_custkey", "rn")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.size == expected.size)
    assert(got == expected)
  }

  chunkedTest("descending first key ranks like the single-partition desc window") {
    import org.apache.spark.sql.expressions.Window
    val dkeys = Seq(col("c_acctbal").cast("decimal(18,4)").desc, col("c_custkey"))
    val expected = customers
      .select(col("c_custkey"),
        row_number().over(Window.orderBy(dkeys: _*)).as("rn"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = GlobalRank.withGlobalRowNumber(customers, dkeys, "rn", 8)
      .select("c_custkey", "rn")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected)
  }

  chunkedTest("chunk ids are value-deterministic: no partition-id or checkpoint in the plan") {
    // a row's chunk must be a pure function of its values: a plan that
    // reads spark_partition_id() after a sampled range exchange (or that
    // pins one evaluation via a checkpointed RDD) can mis-rank under task
    // retry/speculation — value-determinism is the structural guarantee
    val df = GlobalRank.withGlobalRowNumber(customers, keys, "rn", 8)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SPARK_PARTITION_ID"), "sampled-exchange pid in plan")
    assert(!p.toLowerCase.contains("existingrdd"), "checkpointed RDD in plan")
    val eval = () => df.select("c_custkey", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eval() == eval(), "two evaluations disagree")
  }

  chunkedTest("grouped row_number equals the per-group window, balanced across chunks") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001)
      .withColumn("h", md5(concat_ws("|", col("text"), col("doc_id"))))
    val gkeys = Seq(col("h"), col("doc_id"))
    val expected = docs.select(col("doc_id"),
        row_number().over(
          Window.partitionBy("lang").orderBy(gkeys: _*)).as("rn"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ranked = GlobalRank.withGroupedRowNumber(docs, Seq("lang"), gkeys,
      "rn", chunkKey = Some(conv(substring(col("h"), 1, 15), 16, 10)),
      numPartitions = 8)
    val got = ranked.select("doc_id", "rn")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.size == expected.size && got == expected)
    // the md5-prefix chunk key spreads each language over many chunks —
    // the whole point vs a single-task-per-language window: every
    // in-data window must partition on (lang, __gr_pid), not lang alone
    val winLines = ranked.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("Window "))
    assert(winLines.exists(_.contains("__gr_pid")),
      s"no chunked window in plan:\n${winLines.mkString("\n")}")
    // determinism across evaluations
    val eval = () => ranked.select("doc_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eval() == eval())
  }

  chunkedTest("grouped rank keeps NULL-group rows, ranked as their own group") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // Window.partitionBy treats NULL as a group of its own; an equi-join
    // attach of per-group bounds/offsets would silently DROP these rows
    val df = Seq(
      (1L, "en"), (2L, "en"), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]), (5L, "fr"))
      .toDF("id", "lang")
    val expected = df.select(col("id"),
        row_number().over(Window.partitionBy("lang").orderBy("id")).as("rn"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = GlobalRank.withGroupedRowNumber(df, Seq("lang"),
        Seq(col("id")), "rn", numPartitions = 4)
      .select("id", "rn")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.size == expected.size, s"rows lost: $got vs $expected")
    assert(got == expected)
    // same for the running-sum sibling
    val expSum = df.select(col("id"),
        sum(col("id")).over(Window.partitionBy("lang").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotSum = GlobalRank.withGroupedRunningSum(df, Seq("lang"),
        Seq(col("id")), col("id"), "run", numPartitions = 4)
      .select("id", "run")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSum == expSum)
  }

  chunkedTest("grouped running sum equals the per-group prefix-sum window") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val expected = docs.select(col("doc_id"),
        sum(col("n_chars")).over(
          Window.partitionBy("lang").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GlobalRank.withGroupedRunningSum(docs, Seq("lang"),
        Seq(col("doc_id")), col("n_chars"), "run", numPartitions = 8)
      .select("doc_id", "run")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == expected.size && got == expected)
  }

  chunkedTest("the distributed path plans no global single-partition window") {
    val df = GlobalRank.withGlobalRowNumber(customers, keys, "rn", 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // a partition-less Window shows as "Window [...], [sort...]" with no
    // partition spec; ours must always partition by the pid column —
    // assert the only Window operators mention __gr_pid or __gr_offset
    val windows = p.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty)
    windows.filterNot(_.contains("count")) // offsets window is O(partitions)
      .foreach(w => assert(w.contains("__gr_pid"), s"unpartitioned window:\n$w"))
  }

  // ---- the small-input path: parity with the chunked form ----

  import org.apache.spark.sql.DataFrame
  import spark.implicits._

  /** Crafted input for the parity tests, 40 rows: `id` unique tiebreak;
    * `g` a group key with nulls; `k` a DOUBLE sort key with nulls, NaNs
    * and ties; `v` a LONG and `d` a DECIMAL(12,2) summand, never null;
    * `m` a LONG with nulls for the running maxes. */
  private lazy val crafted: DataFrame = (1 to 40).map { i =>
    val g = if (i % 7 == 0) null else Seq("a", "b", "c")(i % 3)
    val k: java.lang.Double =
      if (i % 11 == 0) null else if (i % 13 == 0) Double.NaN
      else ((i * 37) % 17).toDouble
    val m: java.lang.Long = if (i % 5 == 0) null else ((i * 29) % 23).toLong
    (i.toLong, g, k, (i * 7919L) % 101 - 50, BigDecimal(i * 13 % 97) / 4, m)
  }.toDF("id", "g", "k", "v", "d0", "m")
    .withColumn("d", col("d0").cast("decimal(12,2)")).drop("d0")
  private val ck = Seq(col("k"), col("id"))
  private val ckDesc = Seq(col("k").desc, col("id"))

  /** Build `f` with the local path forced (`Long.MaxValue`) and with the
    * chunked path forced (`0`); both must take their path and return the
    * same rows and exactly the same schema (order, names, types,
    * nullability). `f` runs on the full crafted frame and on an empty one. */
  private def parity(f: DataFrame => DataFrame): Unit =
    for (in <- Seq(crafted, crafted.filter(lit(false)))) {
      def run(maxBytes: Long) = withLocalMaxBytes(maxBytes) {
        val df = f(in)
        val chunkedPlan = df.queryExecution.analyzed.toString.contains("__gr_pid")
        (chunkedPlan, df.schema, df.collect().map(_.toString).sorted.toSeq)
      }
      val (localChunked, localSchema, localRows) = run(Long.MaxValue)
      val (chunkChunked, chunkSchema, chunkRows) = run(0L)
      assert(!localChunked, "Long.MaxValue did not take the local path")
      assert(chunkChunked, "0 did not take the chunked path")
      assert(localSchema == chunkSchema,
        s"schemas differ:\n${localSchema.treeString}\n${chunkSchema.treeString}")
      assert(localRows == chunkRows)
    }

  test("local and chunked global row numbers agree (asc, desc)") {
    parity(GlobalRank.withGlobalRowNumber(_, ck, "rn", 4))
    parity(GlobalRank.withGlobalRowNumber(_, ckDesc, "rn", 4))
  }

  test("local and chunked grouped row numbers agree, null groups included") {
    parity(GlobalRank.withGroupedRowNumber(_, Seq("g"), ck, "rn",
      numPartitions = 4))
    parity(GlobalRank.withGroupedRowNumber(_, Seq("g"), ckDesc, "rn",
      numPartitions = 4))
  }

  test("local and chunked groupedRowsAtRanks select the same rows") {
    val want = array(lit(1L), floor((col("n") + 1) / 2).cast("long"), col("n"))
    parity(GlobalRank.groupedRowsAtRanks(_, Seq("g"), ck, "rn", want,
      numPartitions = 4))
    parity(GlobalRank.groupedRowsAtRanks(_, Seq("g"), ckDesc, "rn", want,
      numPartitions = 4))
    parity(GlobalRank.groupedRowsAtRanks(_, Nil, ck, "rn",
      array(lit(1L), col("n")), numPartitions = 4))
  }

  test("local and chunked running sums agree on LONG and DECIMAL summands") {
    for (v <- Seq(col("v"), col("d"))) {
      parity(GlobalRank.withGlobalRunningSum(_, ck, v, "run", 4))
      parity(GlobalRank.withGlobalRunningSum(_, ckDesc, v, "run", 4))
      parity(GlobalRank.withGroupedRunningSum(_, Seq("g"), ck, v, "run",
        numPartitions = 4))
    }
    parity(GlobalRank.withGroupedRunningSums(_, Seq("g"), ckDesc,
      Seq(col("v") -> "rv", col("d") -> "rd"), numPartitions = 4))
    parity(GlobalRank.withGroupedRunningSums(_, Nil, ckDesc,
      Seq(col("v") -> "rv", col("d") -> "rd"), numPartitions = 4))
  }

  test("local and chunked running maxes agree, null values included") {
    parity(GlobalRank.withGroupedRunningMax(_, Seq("g"), ck, col("m"), "mx",
      numPartitions = 4))
    parity(GlobalRank.withGroupedRunningMax(_, Nil, ck, col("m"), "mx",
      numPartitions = 4))
    parity(GlobalRank.withGroupedRunningMaxes(_, Seq("g"), ckDesc,
      Seq(col("m") -> "m1", col("d") -> "m2"), numPartitions = 4))
  }

  test("the size gate: small file input is local, 0 and unsized leaves are chunked") {
    assert(GlobalRank.local(customers), "an sf0.001 table should take the local path")
    withLocalMaxBytes(0L) {
      assert(!GlobalRank.local(customers), "localMaxBytes=0 must force the chunked path")
    }
    // an RDD scan has no origin stats: Spark reports Long.MaxValue bytes
    val rdd = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType.fromDDL("x BIGINT"))
    withLocalMaxBytes(Long.MaxValue) {
      assert(!GlobalRank.local(rdd), "a leaf with no finite size must go chunked")
      assert(GlobalRank.local(crafted))
    }
  }
}
