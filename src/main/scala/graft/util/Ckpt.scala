package graft.util

import org.apache.spark.sql.Dataset

/** The one checkpoint policy: every checkpoint in `src/main` goes
  * through [[Ckpt.narrow]], so the mechanism (local or reliable) is
  * chosen here, once, by a conf flag instead of per call site
  * (`tools/gate.sh` fails on a raw `localCheckpoint`/`checkpoint` call
  * outside this package). The frames routed here are narrow derived
  * frames a plan references several times: sweep event frames,
  * change-point and edge frames, hashed or tokenized projections,
  * iteration labels.
  *
  * `spark.graft.checkpoint` modes:
  *
  *  - `local` (default): `Dataset.localCheckpoint` — blocks live on
  *    executor storage, lineage truncated. The right default for
  *    `local[n]` (the executor IS the driver process, so a lost block
  *    already means a lost job) and the fastest option everywhere.
  *  - `reliable`: `Dataset.checkpoint` to the reliable checkpoint dir —
  *    blocks survive executor loss, the 100 TB-with-churn flag. The
  *    frames routed through here are change-point-/pair-/shingle-sized,
  *    far narrower than their lineage's inputs, so the extra write is
  *    small next to recomputing a lost block's full lineage under churn.
  *    (Spark's lazy reliable checkpoint writes by re-running the frame
  *    once after the first job that computes it — the standard
  *    checkpoint-without-persist trade; still one extra pass over a
  *    NARROW frame, paid only by deployments that opt in.)
  *    The checkpoint dir defaults under `spark.graft.scratchDir` (or the
  *    JVM tmpdir) when the deployment has not set one; a real cluster
  *    should point it at durable shared storage.
  *
  * A frame that concurrent jobs will read must be materialized on ONE
  * thread first (a `count()` on the checkpointed frame, or the first job
  * that reads it), before any sibling job is planned over it: the lazy
  * checkpoint's state transition at the end of that job deadlocks
  * against the DAG scheduler planning a sibling job over the same RDD
  * (see `FreqStore.prepare`). `VardaOps.buildFreqStore` counts each
  * fixture in its own future; `FreqStore.retract`'s manifest job
  * materializes its three frames before any concurrent write.
  *
  * Why not `persist()` (the other lineage-keeping option): persisted
  * plans register with the session's CacheManager, which rewrites EVERY
  * later query's matching subtree to the cached data — two declared
  * keys that derive the same intermediate would silently share one
  * materialization, changing what each bench line measures (an
  * undeclared cross-query cache). `persist` stays only where that
  * sharing is declared, or where concurrent jobs read the frame and its
  * owner releases it:
  *
  *  - standing builds, memoized by [[Standing]] and shared on purpose:
  *    the graph edge frames (`Graph.pairSupport`,
  *    `Graph.orientedSupplierEdges`) and the jaccard index and pairs
  *    (`Llm.jaccardIndexShared`, `Llm.jaccardPairsShared`);
  *  - FreqStore's commit frames (`prepare`: the batch, its coverage
  *    fragments and points; `commitPrepared`: new points and new
  *    segments) and the compaction's consolidated cover: concurrent
  *    write jobs read them, and FreqStore unpersists each when its
  *    commit or compaction ends;
  *  - the INSERT validation frame (`FreqStoreInsertable.insert`), read
  *    by the check and the commit and unpersisted after them.
  */
object Ckpt {

  /** Lazily checkpoint `df` under the session's configured regime (see
    * object scaladoc). The checkpoint's blocks are written inside the
    * first job that executes the frame. Lazy is not job-free, though:
    * with AQE on (the default), building the checkpointed frame runs
    * every shuffle stage below it as a job of its own, because the
    * adaptive plan must execute those stages to produce the RDD. A frame
    * with no exchange below it runs no job at build. With AQE off the
    * build runs none. (Spark 4.1, `local[2]`: a `groupBy` or a global
    * window under `localCheckpoint(eager = false)` ran 1 job at build
    * with AQE on, 0 with it off.)
    *
    * In `reliable` mode the checkpoint dir belongs to the SparkContext
    * and is set once, by the first caller whose context has none: a
    * later session on the same context with a different
    * `spark.graft.scratchDir` reuses that first dir, and says so once on
    * stderr ([[foreignDirWarning]]). Nothing here deletes checkpoint
    * data under `<dir>/<applicationId>/ckpt`; a long-lived process owns
    * that cleanup. */
  def narrow[T](df: Dataset[T]): Dataset[T] = {
    val sess = df.sparkSession
    sess.conf.get("spark.graft.checkpoint", "local") match {
      case "reliable" =>
        val sc = sess.sparkContext
        val base = sess.conf.getOption("spark.graft.scratchDir")
          .getOrElse(sys.props("java.io.tmpdir") + "/graft-scratch")
        sc.getCheckpointDir match {
          case None => sc.setCheckpointDir(s"$base/${sc.applicationId}/ckpt")
          case Some(dir) => foreignDirWarning(dir, base).foreach { msg =>
            if (warned.putIfAbsent((dir, base), ()).isEmpty) System.err.println(msg)
          }
        }
        df.checkpoint(eager = false)
      case _ => df.localCheckpoint(eager = false)
    }
  }

  private val warned = scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** The line [[narrow]] prints when the context's checkpoint dir `dir`
    * is not under this session's scratch dir `base`; None when it is.
    * Compares the paths of both (scheme and authority dropped, a relative
    * path taken from the working directory), component by component. */
  private[graft] def foreignDirWarning(dir: String, base: String): Option[String] = {
    def norm(p: String): java.nio.file.Path = java.nio.file.Paths
      .get(new org.apache.hadoop.fs.Path(p).toUri.getPath).toAbsolutePath.normalize
    if (norm(dir).startsWith(norm(base))) None
    else Some(s"[ckpt] reliable checkpoints go to the context's dir $dir, " +
      s"not under this session's scratch dir $base")
  }
}
