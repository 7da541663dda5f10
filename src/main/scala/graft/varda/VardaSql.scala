package graft.varda

/** Canonical SQL fragments for the varda-domain [D] fixtures
  * (FIXTURES.md §2 — normative: the same text runs through `spark.sql`
  * and in the DuckDB oracle, so both engines compute identical fixtures).
  * Only dialect-neutral constructs are used (1-based substr, %, CASE,
  * CAST ... AS STRING); the one true divergence — bit shifts — goes
  * through [[shr]].
  */
object VardaSql {

  /** Chromosome name for derivation key k ∈ 0..21: autosomes '1'..'20'
    * plus 'X' and 'MT', so non-diploid chromosomes exercise the
    * ploidy-aware denominator (round-2; SURVEY.md §1 item 3). */
  def chromName(k: String): String =
    s"(CASE WHEN ($k) = 20 THEN 'X' WHEN ($k) = 21 THEN 'MT' ELSE CAST(1 + ($k) AS STRING) END)"

  /** Per-chromosome ploidy — data, not a constant (varda stores ploidy
    * with the sample/chromosome; this fixture pins the simplified map:
    * haploid X/Y/MT, diploid autosomes). */
  def ploidyOf(chrom: String): String =
    s"(CASE WHEN $chrom IN ('X', 'Y', 'MT') THEN 1 ELSE 2 END)"

  /** observations — VCF-import output shape, derived from events
    * (FIXTURES.md §2.1; varda/tasks.py :: import_variation [U]). */
  val observations: String =
    s"""SELECT
         event_id                                        AS obs_id,
         ${chromName("user_id % 22")}                    AS chromosome,
         CAST(1000 + (event_id * 37) % 100000 AS BIGINT) AS position,
         substr('ACGT', CAST(event_id % 4 AS INT) + 1, 1)       AS reference,
         substr('ACGT', CAST((event_id + 1) % 4 AS INT) + 1, 1) AS observed,
         user_id % 20                                    AS sample_id,
         CAST(1 + event_id % 2 AS INT)                   AS support,
         CASE WHEN event_id % 3 = 0 THEN 'homozygous'
              ELSE 'heterozygous' END                    AS zygosity
       FROM events"""

  /** samples — the sample universe with per-sample pool size and whether
    * a coverage profile was imported. Samples 0, 7 and 14 have NO
    * coverage profile and therefore count as covering every position
    * (the reference's core frequency semantic, varda/tasks.py [U];
    * SURVEY.md §1 item 3). */
  val samples: String =
    """SELECT DISTINCT
         user_id % 20                        AS sample_id,
         CAST(1 + (user_id % 20) % 3 AS INT) AS pool_size,
         (user_id % 20) % 7 <> 0             AS has_coverage
       FROM events"""

  /** coverage — BED-import output shape, derived from orders
    * (FIXTURES.md §2.2; varda/tasks.py :: import_coverage [U]).
    * Intervals are [begin_pos, end_pos] inclusive, length 500-1100.
    * Only samples with a coverage profile have rows here; pool_size is
    * the per-sample value (consistent with `samples`). */
  val coverage: String =
    s"""SELECT
         o_orderkey                                       AS region_id,
         ${chromName("o_custkey % 22")}                   AS chromosome,
         CAST((o_orderkey * 53) % 100000 AS BIGINT)       AS begin_pos,
         CAST((o_orderkey * 53) % 100000
              + 500 + (o_orderkey % 7) * 100 AS BIGINT)   AS end_pos,
         o_custkey % 20                                   AS sample_id,
         CAST(1 + (o_custkey % 20) % 3 AS INT)            AS pool_size
       FROM orders
       WHERE (o_custkey % 20) % 7 <> 0"""

  /** alleles — un-normalized (ref, alt) pairs from part
    * (FIXTURES.md §2.5; <= 4 chars by construction). */
  val alleles: String =
    """SELECT
         p_partkey AS var_id,
         CAST(100 + p_partkey % 5000 AS BIGINT) AS position,
         CASE CAST(p_partkey % 4 AS INT)
           WHEN 0 THEN 'AT'  WHEN 1 THEN 'AAT' WHEN 2 THEN 'GCC' ELSE 'T' END AS ref,
         CASE CAST(p_partkey % 3 AS INT)
           WHEN 0 THEN 'A'   WHEN 1 THEN 'AATT' ELSE 'GC' END                 AS alt
       FROM part"""

  /** chain — a liftOver-style assembly map derived from orders: per
    * chromosome, grid-aligned source blocks [blk·1000, blk·1000+799]
    * each carrying a deterministic coordinate shift (min orderkey of the
    * block's contributing rows, recentred to ±1000). Blocks are disjoint
    * per chromosome BY CONSTRUCTION (distinct blk ⇒ disjoint
    * [blk·1000, blk·1000+799]), so every position maps through at most
    * one chain interval — the chain-file invariant liftOver relies on. */
  val chain: String =
    s"""SELECT chromosome,
         CAST(blk * 1000 AS BIGINT)       AS src_begin,
         CAST(blk * 1000 + 799 AS BIGINT) AS src_end,
         CAST(min(ok) % 2000 - 1000 AS BIGINT) AS shift
       FROM (SELECT ${chromName("o_custkey % 22")} AS chromosome,
               o_orderkey % 100 AS blk, o_orderkey AS ok
             FROM orders) t
       GROUP BY chromosome, blk"""

  /** Engine-specific right shift: Spark lacks `>>` in all dialects we pin,
    * DuckDB lacks `shiftright`. */
  def shrSpark(x: String, n: Int) = s"shiftright($x, $n)"
  def shrDuck(x: String, n: Int) = s"($x >> $n)"

  /** UCSC hierarchical binning (varda/region_binning.py :: assign_bin
    * [U]): smallest level (128kb..512Mb) whose bin contains [b, e]; bin id
    * = level offset + (b >> shift). Pure integer arithmetic — no UDF. */
  def assignBin(b: String, e: String, shr: (String, Int) => String): String = {
    val levels = Seq((585, 17), (73, 20), (9, 23), (1, 26))
    val whens = levels.map { case (off, sh) =>
      s"WHEN ${shr(b, sh)} = ${shr(e, sh)} THEN $off + ${shr(b, sh)}"
    }.mkString(" ")
    s"(CASE $whens ELSE 0 + ${shr(b, 29)} END)"
  }

  /** Longest-common-prefix length of two string columns, as a CASE chain
    * unrolled to [[Normalize.MaxLen]] chars (fixture alleles are <= 4).
    * `ci` = chars 1..i all present and equal; first failing i ends the
    * chain at i-1. */
  def lcpCase(a: String, b: String, maxLen: Int): String = {
    val whens = (1 to maxLen).map { i =>
      val c = s"length($a) >= $i AND length($b) >= $i AND substr($a, $i, 1) = substr($b, $i, 1)"
      s"WHEN NOT ($c) THEN ${i - 1}"
    }.mkString(" ")
    s"(CASE $whens ELSE $maxLen END)"
  }

  /** Longest-common-suffix length, same construction from the right end. */
  def lcsCase(a: String, b: String, maxLen: Int): String = {
    val whens = (1 to maxLen).map { i =>
      val c = s"length($a) >= $i AND length($b) >= $i AND substr(right($a, $i), 1, 1) = substr(right($b, $i), 1, 1)"
      s"WHEN NOT ($c) THEN ${i - 1}"
    }.mkString(" ")
    s"(CASE $whens ELSE $maxLen END)"
  }

  /** Engine-specific integer (floor) division — operands here are always
    * non-negative so floor == truncate on both engines. */
  def idivSpark(a: String, b: String) = s"(($a) div ($b))"
  def idivDuck(a: String, b: String) = s"(($a) // ($b))"

  /** The varda frequency computation (FIXTURES.md §2.3;
    * varda/tasks.py frequency calc [U]) as oracle SQL: per-variant
    * SUM(support) over observations, divided by Σ over covering samples
    * of pool_size × ploidy(chromosome). A sample covers a position if
    * one of its coverage regions contains it — counted once however many
    * regions overlap — and a sample with no coverage profile covers
    * every position (SURVEY.md §1 item 3). Frequencies are reported in
    * integer parts-per-million (floor) so both engines agree bit-for-bit
    * — no decimal-division rounding-mode dependence. `sampleFilter`
    * restricts observations, coverage AND the sample universe
    * (varda_sample_expr). */
  def frequencySql(withZyg: Boolean, sampleFilter: Option[String],
      idiv: (String, String) => String,
      obsWhere: Option[String] = None, covWhere: Option[String] = None,
      smpWhere: Option[String] = None): String = {
    // `sampleFilter` is ONE predicate over sample_id applied to all three
    // relations (the sample-expression keys); the per-relation `*Where`
    // filters restrict each input independently (the time-travel key cuts
    // obs/cov/samples to the batches at or below the pinned generation)
    def and(base: Option[String], extra: Option[String]): Option[String] =
      (base, extra) match {
        case (Some(a), Some(b)) => Some(s"($a) AND ($b)")
        case (a, b) => a.orElse(b)
      }
    val filtObs = and(sampleFilter, obsWhere).map(f => s" WHERE $f").getOrElse("")
    val filtCov = and(sampleFilter, covWhere).map(f => s" WHERE $f").getOrElse("")
    val uncovFilt = and(sampleFilter, smpWhere).map(f => s" AND $f").getOrElse("")
    val zygCols = if (withZyg)
      """,
         CAST(SUM(CASE WHEN zygosity = 'heterozygous' THEN support ELSE 0 END) AS BIGINT) AS numer_het,
         CAST(SUM(CASE WHEN zygosity = 'homozygous' THEN support ELSE 0 END) AS BIGINT) AS numer_hom"""
    else ""
    val zygOut = if (withZyg)
      s""",
          CAST(${idiv("n.numer_het * 1000000", "NULLIF(d.denom, 0)")} AS BIGINT) AS freq_het_ppm,
          CAST(${idiv("n.numer_hom * 1000000", "NULLIF(d.denom, 0)")} AS BIGINT) AS freq_hom_ppm"""
    else ""
    s"""WITH obs_f AS (SELECT * FROM ($observations) oo$filtObs),
        cov_f AS (SELECT * FROM ($coverage) cc$filtCov),
        pts AS (SELECT DISTINCT chromosome, position FROM obs_f),
        numer AS (SELECT chromosome, position, reference, observed,
                    CAST(SUM(support) AS BIGINT) AS numer$zygCols
                  FROM obs_f GROUP BY chromosome, position, reference, observed),
        cov_smp AS (SELECT DISTINCT p.chromosome, p.position,
                      c.sample_id, c.pool_size
                    FROM pts p JOIN cov_f c ON p.chromosome = c.chromosome
                      AND p.position BETWEEN c.begin_pos AND c.end_pos),
        uncov_smp AS (SELECT p.chromosome, p.position, s.sample_id, s.pool_size
                      FROM pts p CROSS JOIN (
                        SELECT sample_id, pool_size FROM ($samples) ss
                        WHERE NOT has_coverage$uncovFilt) s),
        denom AS (SELECT chromosome, position,
                    CAST(SUM(pool_size * ${ploidyOf("chromosome")}) AS BIGINT) AS denom
                  FROM (SELECT * FROM cov_smp UNION ALL SELECT * FROM uncov_smp) u
                  GROUP BY chromosome, position)
        SELECT n.chromosome, n.position, n.reference, n.observed,
          n.numer, d.denom,
          CAST(${idiv("n.numer * 1000000", "NULLIF(d.denom, 0)")} AS BIGINT) AS freq_ppm$zygOut
        FROM numer n LEFT JOIN denom d
          ON n.chromosome = d.chromosome AND n.position = d.position"""
  }

  /** Variant normalization over a relation with (var_id, position, ref,
    * alt): trim the common prefix (advancing position), then the common
    * suffix, never below one remaining char on either allele
    * (varda/utils.py :: normalize_variant [U]; FIXTURES.md §2.5). */
  def normalizeSql(allelesRel: String, maxLen: Int): String =
    s"""WITH alleles AS ($allelesRel),
        n1 AS (SELECT var_id, position, ref, alt,
                 least(${lcpCase("ref", "alt", maxLen)},
                       length(ref) - 1, length(alt) - 1) AS p
               FROM alleles),
        n2 AS (SELECT var_id, position + p AS pos_n,
                 substr(ref, p + 1) AS ref1, substr(alt, p + 1) AS alt1
               FROM n1),
        n3 AS (SELECT var_id, pos_n, ref1, alt1,
                 least(${lcsCase("ref1", "alt1", maxLen)},
                       length(ref1) - 1, length(alt1) - 1) AS s
               FROM n2)
        SELECT var_id, pos_n,
               substr(ref1, 1, length(ref1) - s) AS ref_n,
               substr(alt1, 1, length(alt1) - s) AS alt_n
        FROM n3 ORDER BY var_id"""
}
