package graft.varda

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Annotation write-back as VCF text (varda/tasks.py :: write_annotation
  * [U]): the reference streams a user's VCF through the frequency store
  * and emits it back with frequency INFO fields. Here the annotated
  * DataFrame (varda_annotate's shape) serializes through the shared
  * [[Vcf]] writer to a sites-only VCF — header plus tab-separated data
  * lines — as a distributed single-pass write instead of the reference's
  * per-record DB round trips. The output parses back with the SAME
  * [[Vcf.parseVcfLines]] reader the import path uses (AnnotateSpec
  * asserts the round trip), so annotate output can feed a re-import.
  *
  * Two export shapes, matching the reference's two annotation modes:
  * the single-expression `FREQ_PPM` field ([[writeAnnotatedVcf]]) and —
  * the reference's ACTUAL output shape, one INFO field per CONFIGURED
  * sample query [U varda/tasks.py :: write_annotation] —
  * [[writeAnnotatedVcfMulti]], which serializes every
  * `freq_ppm_<name>` column of [[VardaOps.vardaAnnotateMulti]] as its
  * own `FREQ_PPM_<NAME>` INFO entry (round 17).
  */
object Annotate {

  /** chromosome/position/reference/observed/freq_ppm → VCF data lines
    * with `FREQ_PPM=<ppm>` as the INFO field. */
  def toVcfLines(annotated: DataFrame): DataFrame =
    Vcf.toVcfLines(
      annotated.withColumn("FREQ_PPM", col("freq_ppm").cast("string")),
      Seq("FREQ_PPM"))

  /** `freq_ppm_<name>` columns → VCF data lines with one
    * `FREQ_PPM_<NAME>=<ppm>` INFO entry per expression, in `names`
    * order (INFO ids uppercased — VCF convention; the parse-back maps
    * them back to the frame's lowercase column names). */
  def toVcfLinesMulti(annotated: DataFrame, names: Seq[String]): DataFrame = {
    val withInfo = names.foldLeft(annotated) { (df, n) =>
      df.withColumn(infoId(n), col(s"freq_ppm_$n").cast("string"))
    }
    Vcf.toVcfLines(withInfo, names.map(infoId))
  }

  /** The INFO id an expression name serializes under. */
  private[graft] def infoId(name: String): String =
    s"FREQ_PPM_${name.toUpperCase}"

  /** Run the annotation query and write a complete VCF to `outDir`:
    * data lines distributed (one part per partition, sorted within the
    * frame before write) plus a `00_header.vcf` part carrying the
    * `##fileformat` / `##INFO` / `#CHROM` header — readers that list the
    * directory see one valid sites-only VCF. The data lines are
    * coordinate-sorted WITHIN each part only: parts come from a
    * hash-partitioned join, so their ranges interleave, and a consumer
    * that needs whole-file coordinate order (tabix indexing) must
    * re-sort. */
  def writeAnnotatedVcf(spark: SparkSession, sfDir: String, outDir: String): Unit =
    // annotateFrame, not vardaAnnotate: the export needs per-partition
    // order only (the writer sorts within partitions); the declared
    // key's global orderBy would force a range exchange + boundary
    // sampling pass over every line (r20, guide §2.4)
    writeVcf(spark, toVcfLines(VardaOps.annotateFrame(spark, sfDir)),
      Seq("FREQ_PPM"), outDir)

  /** The multi-expression export: [[VardaOps.vardaAnnotateMulti]]'s
    * frame — N sample expressions annotated in ONE pass — serialized
    * with one INFO field per expression. Same distributed single-pass
    * write; the header declares every `FREQ_PPM_<NAME>` id. */
  def writeAnnotatedVcfMulti(spark: SparkSession, sfDir: String,
      outDir: String): Unit = {
    val names = VardaOps.multiExprs.map(_._1)
    writeVcf(spark, toVcfLinesMulti(
      VardaOps.annotateMultiFrame(spark, sfDir), names),
      names.map(infoId), outDir)
  }

  private def writeVcf(spark: SparkSession, lines: DataFrame,
      infoCols: Seq[String], outDir: String): Unit = {
    lines.write.mode("overwrite").text(outDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(outDir, "00_header.vcf"), true)
    try out.write(
      (Vcf.headerLines(infoCols).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
