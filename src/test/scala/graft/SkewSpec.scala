package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted join == plain join, with the hot key actually spread across
  * shards. */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join equals the plain join on a skewed key") {
    // chromosome is the skewed key in the varda shape (22 values, one can
    // dominate); observations vs a per-chromosome summary table.
    val obs = graft.varda.VardaOps.obs(spark, sf0001)
      .select("obs_id", "chromosome", "position")
    val dim = obs.groupBy("chromosome")
      .agg(count(lit(1)).as("n_chrom_obs"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("obs_id", "n_chrom_obs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = rows(obs.join(dim, Seq("chromosome")))
    val salted = rows(Skew.saltedJoin(obs, dim, "chromosome",
      salts = 8, saltBy = col("position")))
    assert(plain.nonEmpty && salted == plain)
  }

  test("AQE splits a skewed shuffle partition (OptimizeSkewedJoin fires)") {
    // demonstrates the claim in Skew.scala's scaladoc: AQE's runtime
    // skew-join split IS the first line of defense, salting the fallback.
    // A partition is split when its size > max(skewedPartitionFactor ×
    // median, skewedPartitionThresholdInBytes), into chunks of
    // advisoryPartitionSizeInBytes — thresholds lowered here because the
    // synthetic hot key is ~1 MB, not the 256 MB production default.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 50000).select(
        when(col("id") < 40000, 0L).otherwise(col("id") % 100).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val right = spark.range(0, 100).select(col("id").as("k"),
        col("id").cast("string").as("name"))
      val j = left.join(right, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salting spreads one hot key over the requested shard count") {
    import spark.implicits._
    val hot = (1 to 1000).map(i => ("hot", i.toLong)).toDF("k", "v")
    val shards = hot
      .withColumn("__salt", pmod(hash(col("v")), lit(8)))
      .select("__salt").distinct().count()
    assert(shards == 8)
  }

  test("planted-skew corpus: the salted plan spreads the hot supplier 8 ways") {
    // round-13 (VERDICT #6): the plant BENCH_SKEW_SF1.json measured at
    // sf1 — one hot supplier key in ~20% of lineitem — built here at
    // sf0.001. That artifact records the effect one decade up
    // (max/p50 task ms: unsalted ~7×, salted ~2×; AQE's skew split
    // cannot fire at this size — the hot partition is far below its
    // 256 MB threshold, which is exactly the regime salting is for).
    val li = Tables.lineitem(spark, sf0001)
      .withColumn("l_suppkey",
        when(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(5)) === 0,
          lit(1L)).otherwise(col("l_suppkey")))
    val sup = Tables.supplier(spark, sf0001)
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val saltBy = col("l_orderkey") * lit(31) + col("l_linenumber")

    // the planted share is real (~20%)
    val total = li.count().toDouble
    val hot = li.filter(col("l_suppkey") === 1L).count().toDouble
    assert(hot / total > 0.15 && hot / total < 0.35, s"plant=${hot / total}")

    // the hot key's rows spread over all 8 shards, near-uniformly —
    // asserted with the EXACT salt expression the join uses
    val shardCounts = li.filter(col("l_suppkey") === 1L)
      .groupBy(graft.ops.Skew.saltColumn(saltBy, 8).as("shard"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(shardCounts.keySet == (0 until 8).toSet,
      s"hot key not 8-way spread: ${shardCounts.keySet}")
    val mean = shardCounts.values.sum.toDouble / 8
    assert(shardCounts.values.max < mean * 1.5,
      s"salt shards unbalanced: $shardCounts")

    // and the salted join stays row-identical to the plain join
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getString(3))).sorted.toSeq
    val plain = rows(li.join(sup, "l_suppkey"))
    val salted = rows(Skew.saltedJoin(li, sup, "l_suppkey",
      salts = 8, saltBy = saltBy))
    assert(plain.nonEmpty && salted == plain)
  }
}
