package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Digest-form correctness dump for result-explosion keys (round 14).
  *
  * `join_range_interval` (461M rows at sf1) and `varda_region_intersect`
  * (296M) cannot be materialized for the row-by-row oracle compare at
  * corpus scale, but their correctness can still be checked there: both
  * engines compute COUNT(*) plus two 32-bit-per-row hash SUMS over a
  * canonical rendering of every row, entirely inside the engine — no
  * result ever hits a disk or a driver. A single differing/extra/missing
  * row flips each sum with probability 1-2^-32 (two independent 32-bit
  * slices of the row's md5 → 64 bits of evidence, plus the exact count).
  *
  * Cross-engine canonical form (must stay in lockstep with
  * tools/check.py --digest):
  *   - columns in SORTED NAME ORDER, each CAST to string — integer and
  *     string SQL types render identically in Spark and DuckDB; the
  *     checker refuses other types loudly rather than hash-diverging on
  *     representation (float "1.0E-7" vs "1e-07", timestamp formats);
  *   - NULL renders as the NUL sentinel (`coalesce(cast(c as string),
  *     chr(0))`) — concat_ws SKIPS null arguments in both engines, so a
  *     bare rendering would hash ("a",NULL,"b") identical to
  *     ("a","b",NULL) (round-14 ADVICE). The same single aggregate pass
  *     also counts string values embedding the '|' delimiter or the
  *     sentinel itself and REFUSES the key when any exist (ambiguous
  *     rendering: "a|b","c" ≡ "a","b|c") — zero extra jobs, both
  *     engines guarded;
  *   - rows rendered as concat_ws("|", ...) and hashed with md5 (both
  *     engines hash the same UTF-8 bytes);
  *   - per-row value = first/second 8 hex chars as unsigned ints; the
  *     sums stay below 2^32 x rowcount << 2^63, so Spark's BIGINT sum
  *     cannot overflow and DuckDB's HUGEINT sum equals it exactly.
  *
  * Usage: runMain graft.tools.DigestVerify <sfDir> <outDir> key...
  * Writes <outDir>/digests.json: {key: {"cnt":N,"h1":N,"h2":N}}.
  * The digest logic is validated at sf0.01 against the full row compare
  * (same keys pass both) before the sf1 sweep leans on it alone. */
object DigestVerify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keys = args.drop(2).toSeq
    require(keys.nonEmpty, "usage: DigestVerify <sfDir> <outDir> key...")
    val spark = graft.Session.local()
    new java.io.File(outDir).mkdirs()
    val entries = keys.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.schema.fields.foreach { f =>
        require(Set("string", "long", "integer", "short", "byte")
          .contains(f.dataType.typeName),
          s"$name.${f.name} is ${f.dataType.typeName}: the digest only " +
            "renders integer/string columns identically across engines")
      }
      val s = concat_ws("|", df.columns.sorted.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      // delimiter-ambiguity guard, riding the same pass: any string
      // value embedding '|' or the NUL sentinel makes the rendering
      // ambiguous and the 1-2^-32 per-row guarantee void — refuse
      val strCols = df.schema.fields
        .filter(_.dataType.typeName == "string").map(_.name).toSeq
      val badExpr = strCols.map(c =>
          when(col(c).contains("|") || col(c).contains("\u0000"), 1L)
            .otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
      val row = df.select(md5(s).as("h"), badExpr.as("bad"))
        .agg(count(lit(1)).as("cnt"),
          sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")).as("h1"),
          sum(conv(substring(col("h"), 9, 8), 16, 10).cast("long")).as("h2"),
          sum(col("bad")).as("bad"))
        .head()
      require(row.isNullAt(3) || row.getLong(3) == 0L,
        s"$name: ${row.getLong(3)} string value(s) embed the '|' " +
          "delimiter or the NUL sentinel — the canonical rendering is " +
          "ambiguous for this key; use the full row compare instead")
      println(s"[digest] $name cnt=${row.getLong(0)} h1=${row.getLong(1)} " +
        s"h2=${row.getLong(2)}")
      s""""$name": {"cnt": ${row.getLong(0)}, "h1": ${row.getLong(1)}, "h2": ${row.getLong(2)}}"""
    }
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      entries.mkString("{", ",", "}") + "\n")
    spark.stop()
  }
}
