package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1 scale-point generator (round-10): synthesizes a
  * 10× corpus from the driver's read-only sf0.1 tables so the
  * superlinear-risk keys can be MEASURED one decade up instead of
  * design-argued. The driver's generator is not shipped, so sf1 is
  * built by key-shifted replication: 10 copies of every fact table
  * with all join keys offset per copy (dimension constants `region`/
  * `nation` are kept as-is), which preserves schema, per-entity
  * fan-outs and join selectivities while scaling row counts, key
  * cardinalities and (via the shifted derivation keys) the varda
  * fixture volume ~10×.
  *
  * Text and vectors get per-copy transforms so the dedup/ANN families
  * scale honestly instead of degenerating into 10-way exact-duplicate
  * cliques: copy i > 0 tags every token (`c<i>_<token>` — shingle
  * spaces disjoint across copies, so posting lists keep their length
  * and pair volume scales ~10×, not ~100×), and embeddings get a
  * deterministic ±0.05 per-component jitter keyed on (vec_id, j).
  *
  * Output: `/root/repo/target/testdata-sf1/<table>.parquet` — inside
  * the repo's build dir (the driver's `/root/testdata` is read-only).
  * Everything is a pure function of the sf0.1 input; no RNG.
  */
object GenScale {
  private val Copies = 10
  /** Override when stacking decades: scaling sf1 (whose keys already
    * span 10 copies × 10M) up to sf10 needs a 100M stride so copy key
    * ranges stay disjoint. */
  private val KeyOff =
    sys.env.get("GENSCALE_KEYOFF").map(_.toLong).getOrElse(10000000L)
  /** Restrict generation to a comma-separated table subset (round-14
    * sf10 store-tier probe: only events/orders feed the varda store
    * fixture — scaling all 10 tables another decade would cost disk
    * and wall for keys the probe never runs). */
  private val only: Option[Set[String]] =
    sys.env.get("GENSCALE_TABLES").map(_.split(",").map(_.trim).toSet)
  private def wanted(t: String): Boolean = only.forall(_.contains(t))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/testdata-sf1"
    val spark = graft.Session.local()

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: => DataFrame, t: String): Unit = {
      if (!wanted(t)) return
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    /** 10 copies with the named BIGINT key columns shifted by i·KeyOff. */
    def scaled(t: String, keys: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
      val base = rd(t)
      (0 until Copies).map { i =>
        val shifted = keys.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(i * KeyOff)))
        perCopy(shifted, i)
      }.reduce(_ unionByName _)
    }

    // dimension constants: one copy
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(scaled("customer", Seq("c_custkey")), "customer")
    wr(scaled("supplier", Seq("s_suppkey")), "supplier")
    wr(scaled("part", Seq("p_partkey")), "part")
    wr(scaled("orders", Seq("o_orderkey", "o_custkey")), "orders")
    wr(scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    wr(scaled("events", Seq("event_id", "user_id")), "events")

    // documents: tag every token per copy so cross-copy texts are fully
    // DISSIMILAR (shingle spaces disjoint) — near-dup pair volume then
    // scales with the corpus instead of quadratically in the copy count
    wr(scaled("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            x => concat(lit(s"c${i}_"), x)), " "))
        .withColumn("n_chars", length(col("text")).cast("bigint"))),
      "documents")

    // embeddings: deterministic per-component jitter for copies > 0 so
    // no cross-copy vector is an exact duplicate (±0.05, hash-keyed)
    wr(scaled("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), j, lit(i)), lit(2000)) - lit(1000))
            .cast("double") / lit(20000.0)).cast("float")))),
      "embeddings")

    spark.stop()
  }
}
