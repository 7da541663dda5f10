package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.util.Ckpt]] policy switch (r20): default mode must be a
  * local checkpoint (lineage truncated onto executor blocks), and
  * `spark.graft.checkpoint=reliable` must route through reliable
  * `Dataset.checkpoint` — including self-provisioning a checkpoint dir
  * when the deployment has not set one. Results identical either way. */
class CkptSpec extends AnyFunSuite {
  import TestSpark._

  test("local mode (default) truncates lineage and preserves rows") {
    val df = Tables.nation(spark, sf0001).select(col("n_nationkey"))
    val got = util.Ckpt.narrow(df)
    assert(got.count() == df.count())
    assert(got.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("LogicalRDD")),
      "local checkpoint should truncate the plan to an RDD scan")
  }

  test("reliable mode checkpoints durably and sets a dir if unset") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.checkpoint", "reliable")
    val df = Tables.nation(s2, sf0001)
      .select(col("n_nationkey"), col("n_regionkey"))
    val got = util.Ckpt.narrow(df)
    assert(got.count() == df.count())
    val dir = s2.sparkContext.getCheckpointDir
    assert(dir.nonEmpty, "reliable mode must provision a checkpoint dir")
    // the checkpointed data actually landed on (reliable) storage
    val p = new org.apache.hadoop.fs.Path(dir.get)
    val fs = p.getFileSystem(s2.sparkContext.hadoopConfiguration)
    assert(fs.exists(p) && fs.listStatus(p).nonEmpty,
      "reliable checkpoint must write under the checkpoint dir")
    Tables.releaseSession(s2)
  }

  test("a checkpoint dir outside the session's scratch dir is named, not reused silently") {
    import util.Ckpt.foreignDirWarning
    val base = "/tmp/graft-scratch"
    assert(foreignDirWarning("file:/tmp/graft-scratch/app-1/ckpt/0f3a", base).isEmpty)
    assert(foreignDirWarning("/tmp/graft-scratch/app-1/ckpt", base + "/").isEmpty)
    assert(foreignDirWarning("file:/tmp/graft-scratch", base).isEmpty)
    val msg = foreignDirWarning("file:/data/ckpt/0f3a", base)
    assert(msg.exists(m => m.contains("file:/data/ckpt/0f3a") && m.contains(base)), msg)
    // a sibling that shares the prefix is not under the base
    assert(foreignDirWarning("file:/tmp/graft-scratch2/app-1/ckpt", base).nonEmpty)
  }
}
