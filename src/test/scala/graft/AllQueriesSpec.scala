package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared key executes at sf0.001 and yields a deterministic,
  * repeatable result (same count twice). The value-level parity gate is
  * the DuckDB oracle (tools/check.py / driver t2); this spec catches
  * runtime regressions fast, including the 4 no-oracle keys. */
class AllQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("queries and oracleSql keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o.diff(q)}")
    val noOracle = q.diff(o)
    assert(noOracle == Set("agg_approx_hll", "agg_approx_quantile",
      "dedup_near_minhash", "sim_ann_lsh",
      "sim_ann_ivf", "sim_ann_ivf_persist", "sim_ann_ivf_rebuild",
      "dedup_near_embedding_lsh"),
      s"unexpected no-oracle keys: $noOracle")
    assert(q.size == 172, s"expected 172 declared keys, got ${q.size}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a key declared by two groups is an error, not a silent overwrite") {
    val e = intercept[IllegalArgumentException](SparkEntry.disjointUnion(
      Seq(Map("a" -> 1, "b" -> 2, "c" -> 3), Map("c" -> 4, "d" -> 5, "b" -> 6))))
    assert(e.getMessage.endsWith(": b, c"), e.getMessage)
    assert(SparkEntry.disjointUnion(Seq(Map("a" -> 1), Map("b" -> 2))) ==
      Map("a" -> 1, "b" -> 2))
  }

  test("agg_comoments sufficient statistics reproduce Spark's corr()") {
    import org.apache.spark.sql.functions.{col, corr}
    val m = ops.Aggs.aggComoments(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val want = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag").agg(corr(col("l_quantity"), col("l_discount")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    want.foreach { case (flag, c) =>
      val r = m(flag)
      val n = r.getAs[Long]("n").toDouble
      val (sx, sy) = (r.getAs[Long]("sum_x_e4") / 1e4, r.getAs[Long]("sum_y_e4") / 1e4)
      val sxy = r.getAs[Long]("sum_xy_e8") / 1e8
      val (sxx, syy) = (r.getAs[Long]("sum_xx_e8") / 1e8, r.getAs[Long]("sum_yy_e8") / 1e8)
      val derived = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(math.abs(derived - c) < 1e-6,
        s"$flag: derived corr $derived vs Spark ${c}")
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and is deterministic") {
      val df = fn(spark, sf0001)
      val c1 = df.count()
      val c2 = fn(spark, sf0001).count()
      assert(c1 == c2, s"$name row count not stable: $c1 vs $c2")
      // these can legitimately be empty at tiny scale; everything else
      // must produce rows (dedup_near_embedding_lsh left this set in
      // round 16: its declared fixture now plants near-identical pairs,
      // so an empty frame would be a bug, not tiny-scale sparsity)
      val mayBeEmpty = Set("join_left_anti", "dedup_near_embedding")
      if (!mayBeEmpty(name)) assert(c1 > 0, s"$name returned 0 rows")
    }
  }
}
