package graft.tools

/** In-engine CDC parity probe (round 16): drain the MULTIPLEXED
  * `freqstore-changes` feed over the 3-batch replayed store at an
  * arbitrary sf dir and compare `FreqStore.refoldChanges(feed)` against
  * `FreqStore.serve()` by two-sided EXCEPT counts — the spec's parity
  * pin at scales where no DuckDB oracle is feasible (the sf10 store's
  * 10M-row feed). Exit code 1 on any divergence.
  *
  * Usage: runMain graft.tools.ChangesParity [sfDir] */
object ChangesParity {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()
    val t0 = System.nanoTime()
    // the declared key IS the drain+refold path (fresh sink+checkpoint,
    // AvailableNow, parquet sink, refold) — run it, then compare
    // against the same memoized store's serve()
    val refolded = graft.SparkEntry.queries("stream_store_changes_freq")(
      spark, sfDir)
    val dir = graft.varda.VardaOps.ttStoreDirFor(spark, sfDir)
    val served = new graft.varda.FreqStore(spark, dir).serve()
    val cols = served.columns.sorted.toSeq
    val a = refolded.select(cols.head, cols.tail: _*)
    val b = served.select(cols.head, cols.tail: _*)
    val extra = a.exceptAll(b).count()
    val missing = b.exceptAll(a).count()
    val n = b.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[parity] sf=$sfDir rows=$n extra=$extra missing=$missing " +
      f"wall=$sec%.1f s")
    spark.stop()
    if (extra != 0 || missing != 0) sys.exit(1)
  }
}
