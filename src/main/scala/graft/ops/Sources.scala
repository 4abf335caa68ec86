package graft.ops

import graft.{Canon, Q, Tables}
import graft.io.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Non-parquet source formats: JSON-lines and CSV readers as first-class
  * query surfaces. The engine's canonical store is parquet, but a 100 TB
  * ingestion pipeline starts from whatever the producers emit — JSONL
  * event logs, CSV dumps — and the correctness contract is that a query
  * over those formats returns byte-identical results to the same query
  * over the parquet copy (each oracle below runs on the parquet table).
  *
  * Both readers take an EXPLICIT schema: schema inference reads the data
  * twice and guesses types per-file — at scale the schema is a contract,
  * not a discovery. Fixtures are written once per dataset into the
  * "sources" scratch area through [[graft.io.Scratch]], which keys them
  * by `Tables.datasetTag` and adopts them across JVMs.
  */
object Sources {

  /** `df` written by `write` as fixture `name`, once per dataset: the
    * fixture dir and `df`'s schema, memoized per JVM so every read passes
    * the schema explicitly and pays no inference.
    */
  private def copyOf(d: String, name: String, df: => DataFrame)(
      write: (DataFrame, String) => Unit): (String, StructType) = {
    lazy val frame = df
    Scratch.fixtureWith("sources", d, name)(write(frame, _))(dir => (dir, frame.schema))
  }

  /** events (µs timestamps dropped — the JSON copy carries the analytic
    * columns) re-emitted as JSON lines.
    */
  private[ops] def jsonEvents(s: SparkSession, d: String): (String, StructType) =
    copyOf(d, "events_json", Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))) {
      (df, dir) => df.write.mode("overwrite").json(dir)
    }

  /** lineitem measures re-emitted as a headered CSV. */
  private[ops] def csvLineitem(s: SparkSession, d: String): (String, StructType) =
    copyOf(d, "lineitem_csv", Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))) {
      (df, dir) => df.write.mode("overwrite").option("header", "true").csv(dir)
    }

  /** Q46 — JSON-lines source: aggregate over the JSONL copy of events;
    * oracle runs the same SQL on the parquet table, so a hash match
    * proves the JSON read path is value-exact (longs, doubles, strings).
    */
  val q46: Q = Q(
    "q46_json_source",
    (s, d) => {
      val (dir, schema) = jsonEvents(s, d)
      s.read.schema(schema).json(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Canon.rsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
            |  count(DISTINCT user_id) AS n_users,
            |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Q47 — CSV source: aggregate over the headered CSV copy of lineitem
    * measures; oracle on the parquet table proves CSV round-trips
    * numerics exactly (Spark writes shortest-roundtrip doubles).
    */
  val q47: Q = Q(
    "q47_csv_source",
    (s, d) => {
      val (dir, schema) = csvLineitem(s, d)
      s.read.schema(schema).option("header", "true").csv(dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          Canon.rsum(col("l_quantity")).as("sum_qty"),
          Canon.ravg(col("l_extendedprice")).as("avg_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n_items,
            |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_qty,
            |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(l_extendedprice), 4) AS avg_price
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** orders re-emitted as ORC (Spark's second built-in columnar format). */
  private[ops] def orcOrders(s: SparkSession, d: String): (String, StructType) =
    copyOf(d, "orders_orc", Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))) {
      (df, dir) => df.write.mode("overwrite").orc(dir)
    }

  /** Q51 — ORC source: the same aggregate over the ORC copy of orders and
    * the parquet oracle. ORC is columnar like parquet, so this also
    * exercises the second vectorized reader + its predicate/pruning path.
    */
  val q51: Q = Q(
    "q51_orc_source",
    (s, d) => {
      val (dir, schema) = orcOrders(s, d)
      s.read.schema(schema).orc(dir)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Canon.rsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
            |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_price
            |FROM orders GROUP BY o_orderpriority, o_orderstatus
            |ORDER BY o_orderpriority, o_orderstatus""".stripMargin))

  /** Two generations of the documents table, each its own fixture: the
    * v1 writer emitted (doc_id, lang); the v2 writer added `n_chars`.
    * Even-keyed docs land in v1, odd-keyed in v2 — so a merged read sees
    * both schemas interleaved, the real shape of a long-lived dataset.
    */
  private[ops] def evolvedDocs(s: SparkSession, d: String): (String, String) = {
    def generation(name: String, parity: Int, cols: String*): String =
      Scratch.fixture("sources", d, s"docs_evolved/$name") { dir =>
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(2)) === parity)
          .select(cols.map(col): _*)
          .write.mode("overwrite").parquet(dir)
      }
    (generation("v1", 0, "doc_id", "lang"), generation("v2", 1, "doc_id", "lang", "n_chars"))
  }

  /** Q74 — schema-evolution read: `mergeSchema` over the v1+v2 parquet
    * generations yields the union schema with v1 rows null in the added
    * column; the aggregate separates evolved coverage (`n_with_chars`,
    * `total_chars` count/sum only v2 rows via null semantics) from the
    * full population (`n_docs`). Oracle reproduces the generation split
    * relationally from the source table. At 100 TB this is the standard
    * additive-column migration: no rewrite of old data, scans pay one
    * footer-merge planning pass, and readers see one logical schema.
    */
  val q74: Q = Q(
    "q74_schema_evolution",
    (s, d) => {
      val (v1, v2) = evolvedDocs(s, d)
      s.read.option("mergeSchema", "true").parquet(v1, v2)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
            |  count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_with_chars,
            |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS total_chars
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  val queries: Seq[Q] = Seq(q46, q47, q51, q74)
}
