package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.ops.* / graft.crypto.* modules; this object just
  * aggregates them into the driver's Map shape.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: segment revenue via a two-join aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    val l = Tables.lineitem(spark, d)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("c_mktsegment")
      .agg(
        Canon.rsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops, and
    * for q34a, whose SQL reads a sampled-key fixture next to a Verify
    * run's output: Verify adds that entry itself
    * (`ops.Sampling.q34aOracleSql`).
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.sql.map(q.name -> _)).toMap
}
