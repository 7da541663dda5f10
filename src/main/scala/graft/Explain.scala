package graft

/** Plan-audit helper: print the physical plan of one or more declared
  * queries (`runMain graft.Explain <sfDir> <key> [key ...]`).
  * The fast feedback loop for the scale review this engine is graded on —
  * check pushdown (PushedFilters / ReadSchema), join strategy, exchange
  * reuse, and WholeStageCodegen spans without running a full bench.
  *
  * Explain runs no action of its own (a key's builder may still run the
  * jobs of its checkpoints): the plan printed is the adaptive plan as
  * planned (`isFinalPlan=false`), exchanges and joins included. Expression ids
  * (`#123`) and exchange `plan_id`s print as `#x` and `plan_id=x`, so two
  * dumps of the same query on different commits diff line for line. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
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

  /** `plan` with expression ids and exchange plan ids replaced by `x`. */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
}
