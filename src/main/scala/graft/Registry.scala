package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.
  * Queries without oracle SQL get the driver's weaker rows-only check and
  * are instead covered by ScalaTest specs.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String] = None)

object Registry {
  /** All query modules, in SURVEY.md §2 order. */
  def modules: Seq[Seq[Q]] = Seq(
    ops.Relational.queries,
    ops.Dedup.queries,
    ops.Similarity.queries,
    ops.IvfPq.queries,
    ops.TextOps.queries,
    ops.StatOps.queries,
    ops.Sampling.queries,
    ops.Sources.queries,
    ops.Layout.queries,
    ops.Skew.queries,
    ops.Multimodal.queries,
    ops.StreamingOps.queries,
    crypto.CryptoParity.queries)

  def all: Seq[Q] = modules.flatten
}
