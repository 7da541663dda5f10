package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Standing

/** [[graft.util.Standing]]: at most one build per (scope, name, key), a
  * session scope per clone and a context scope across clones, failed
  * builds not memoized, nested builds, and release by session. Each test
  * keys on a fresh UUID, so no entry is shared with another test. */
class StandingSpec extends AnyFunSuite {
  import TestSpark._

  private def fresh(): String = java.util.UUID.randomUUID().toString

  test("a repeated get builds once, concurrent first callers included") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (k, builds) = (fresh(), new AtomicInteger)
    val get = () => Standing.get(spark, "spec_once", k) {
      Thread.sleep(200)
      builds.incrementAndGet()
    }
    val fs = Seq.fill(4)(Future(get()))
    val got = fs.map(Await.result(_, 1.minute)) :+ get() :+ get()
    assert(builds.get == 1)
    assert(got.distinct == Seq(1))
  }

  test("session scope builds once per clone, context scope once across clones") {
    val (k, perSession, perContext) = (fresh(), new AtomicInteger, new AtomicInteger)
    val clones = Seq(spark.newSession(), spark.newSession())
    for (s <- clones ++ clones) {
      Standing.get(s, "spec_scope", k)(perSession.incrementAndGet())
      Standing.get(s.sparkContext, "spec_scope", k)(perContext.incrementAndGet())
    }
    assert(perSession.get == 2)
    assert(perContext.get == 1)
    clones.foreach(Standing.release)
  }

  test("a build that throws is not memoized; the next call builds again") {
    val (k, builds) = (fresh(), new AtomicInteger)
    val get = (fail: Boolean) => Standing.get(spark, "spec_throw", k) {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("build failed")
      "built"
    }
    intercept[IllegalStateException](get(true))
    assert(get(false) == "built")
    assert(get(true) == "built", "a memoized value must not rebuild")
    assert(builds.get == 2)
  }

  test("a get from inside another build completes") {
    val k = fresh()
    val outer = Standing.get(spark, "spec_outer", k) {
      Standing.get(spark.sparkContext, "spec_inner", k)(41) + 1
    }
    assert(outer == 42)
    assert(Standing.get(spark.sparkContext, "spec_inner", k)(0) == 41)
  }

  test("release drops only the released session's entries") {
    val (k, builds) = (fresh(), new AtomicInteger)
    val (s1, s2) = (spark.newSession(), spark.newSession())
    def sess(s: org.apache.spark.sql.SparkSession) =
      Standing.get(s, "spec_release", k)(builds.incrementAndGet())
    def ctx() = Standing.get(spark.sparkContext, "spec_release", k)(
      builds.incrementAndGet())
    val (a, b, c) = (sess(s1), sess(s2), ctx())
    Standing.release(s1)
    assert(sess(s2) == b && ctx() == c, "release dropped another scope's entry")
    assert(builds.get == 3)
    assert(sess(s1) != a, "release kept the released session's entry")
    assert(builds.get == 4)
    Seq(s1, s2).foreach(Standing.release)
  }

  test("a FreqStore standing build is shared by clones: one directory, one replay") {
    val (name, builds) = (s"spec_store_${fresh()}", new AtomicInteger)
    val clones = Seq(spark.newSession(), spark.newSession())
    val dirs = for (s <- clones ++ clones) yield
      graft.varda.VardaOps.standingStore(s, name, sf0001)(_ => builds.incrementAndGet())
    assert(dirs.distinct.size == 1)
    assert(builds.get == 1)
    clones.foreach(Standing.release)
  }
}
