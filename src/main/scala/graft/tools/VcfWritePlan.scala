package graft.tools

/** Dev plan dump (r20): the VCF export's WRITE-side frame — the lines
  * DataFrame handed to `.write.text` — which Explain cannot show (the
  * write runs inside the sink keys' builders). Args: [sfDir]. */
object VcfWritePlan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()
    val lines = graft.varda.Annotate.toVcfLines(
      graft.varda.VardaOps.annotateFrame(spark, sfDir))
    println("===== sink_vcf write-side lines frame =====")
    println(lines.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
