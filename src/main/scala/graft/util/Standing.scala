package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one memo for standing builds: work built once and reused by every
  * later query of its scope — the table loaders, the graph edge
  * aggregate, the shingle index and pair set, the FreqStore serving
  * stores, the ANN/IVF fits.
  *
  * Two scopes:
  *  - a `SparkSession`, for frames bound to that session;
  *  - a `SparkContext`, for builds the whole application shares. Cloned
  *    sessions (`newSession()`) share the applicationId that keys every
  *    [[graft.ops.Scans.scratch]] directory, so a build that writes there
  *    (sim_ann_ivf_persist's index) keys on the context: a session key
  *    would let two clones race into the same directory.
  *
  * `name` tells the call sites apart, so two builds never share an entry;
  * `key` is the build's own argument (usually the sfDir).
  *
  * A build runs at most once per (scope, name, key). The map only creates
  * the entry; the build runs under the entry's own lock, outside the map's
  * bin lock, so concurrent first callers wait for the one build, an
  * unrelated miss never waits behind it, and a build may call [[get]]
  * itself. A build that throws is not memoized: the next call builds
  * again.
  *
  * On a miss, entries whose context has stopped are dropped, without
  * unpersisting: a stopped context's cached blocks are already gone.
  * Cloned sessions share a live context, so their entries stay until
  * [[release]] drops them. */
object Standing {

  private final class Entry(build: () => Any) { lazy val value: Any = build() }
  private final case class Key(scope: AnyRef, sc: SparkContext, name: String,
      key: Any)
  private val memo = new ConcurrentHashMap[Key, Entry]()

  /** `build`'s value, built at most once per (session, name, key). */
  def get[T](scope: SparkSession, name: String, key: Any)(build: => T): T =
    memoized(Key(scope, scope.sparkContext, name, key), () => build)

  /** `build`'s value, built at most once per (context, name, key). */
  def get[T](scope: SparkContext, name: String, key: Any)(build: => T): T =
    memoized(Key(scope, scope, name, key), () => build)

  /** Drop every entry scoped to `session`. The values already handed out
    * stay valid; only the memo forgets them. */
  def release(session: SparkSession): Unit =
    memo.keySet.removeIf(_.scope eq session)

  private def memoized[T](k: Key, build: () => T): T = {
    if (!memo.containsKey(k)) memo.keySet.removeIf(_.sc.isStopped)
    val e = memo.computeIfAbsent(k, _ => new Entry(build))
    try e.value.asInstanceOf[T]
    catch { case t: Throwable => memo.remove(k, e); throw t }
  }
}
