package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory) and
  * §7 (layout). Each ops object contributes `queries` (DataFrame builders)
  * and `oracle` (DuckDB-runnable ANSI SQL over the same parquet tables).
  */
object SparkEntry {

  private def groups: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (ops.Scans.queries, ops.Scans.oracle),
    (ops.Joins.queries, ops.Joins.oracle),
    (ops.Aggs.queries, ops.Aggs.oracle),
    (ops.Windows.queries, ops.Windows.oracle),
    (ops.SortsSets.queries, ops.SortsSets.oracle),
    (ops.ScalarFns.queries, ops.ScalarFns.oracle),
    (ops.Streaming.queries, ops.Streaming.oracle),
    (ops.Events.queries, ops.Events.oracle),
    (ops.Llm.queries, ops.Llm.oracle),
    (ops.Analysis.queries, ops.Analysis.oracle),
    (ops.Pipeline.queries, ops.Pipeline.oracle),
    (ops.Graph.queries, ops.Graph.oracle),
    (varda.VardaOps.queries, varda.VardaOps.oracle))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Aggs.aggGroupbySums(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    disjointUnion(groups.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    disjointUnion(groups.map(_._2))

  /** The union of `maps`; a key declared by two of them is an error. */
  private[graft] def disjointUnion[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    require(dups.isEmpty,
      s"query keys declared by more than one group: ${dups.toSeq.sorted.mkString(", ")}")
    maps.reduce(_ ++ _)
  }
}
