package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TypedAggs
import graft.operators.{Dedup, Graph, Multimodal, Relational, Similarity, TextOps}
import graft.streaming.StreamingSessionize

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a named operator spec from SURVEY.md §2 (or the
  * §7 extension table); every oracle in `oracleSql` is the equivalent ANSI SQL
  * the driver runs in DuckDB over the same parquet tables. Column names and
  * value representations are aligned between both sides (see graft.Exprs).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.defs("q4_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ §7 extensions).
    * Query-name namespaces are disjoint: q (relational), w/t (text),
    * d (dedup), s (similarity), m (multimodal), g (graph), x (streaming). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ TextOps.defs ++ Dedup.defs ++ Similarity.defs ++
      Multimodal.defs ++ StreamingSessionize.defs ++ TypedAggs.defs ++
      Graph.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextOps.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ Multimodal.oracles ++ StreamingSessionize.oracles ++
      TypedAggs.oracles ++ Graph.oracles

  /** The query names a tool runs, sorted: every name in `known` when
    * `spec` is None, else the comma-separated names in `spec`. A spec that
    * names nothing, or any name not in `known`, fails before anything runs
    * (a typo must not select nothing and overwrite an artifact). */
  def select(spec: Option[String], known: Iterable[String]): Seq[String] = {
    val all = known.toSeq.sorted
    spec.fold(all) { s =>
      val names = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
      val unknown = names.filterNot(all.toSet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      require(names.nonEmpty, s"no query names in '$s'")
      names.sorted
    }
  }
}
