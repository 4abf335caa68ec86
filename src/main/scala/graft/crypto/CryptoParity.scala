package graft.crypto

import graft.{Q, Tables}
import graft.io.{EncryptedParquet, Parquet, Scratch}
import graft.kms.TestKmsServer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet Modular Encryption parity surface (SURVEY.md Part A / Q24):
  * encrypted write → KMS-gated read roundtrips, runnable inside the
  * driver's correctness gate.
  *
  * Shape mirrors production use: ONE KMS (JVM-shared TestKmsServer), the
  * dataset written ONCE, then read at three privilege levels through the
  * ordinary distributed scan path (`EncryptedParquet.read` — no
  * collect()): privilege enforcement happens per projected column inside
  * each scan task, which is exactly the 1000-executor behavior. Each
  * relation carries its own KMS endpoint + token as datasource options,
  * so the three privilege-tiered reads are independent plans — build and
  * run them in any order, concurrently with plaintext jobs.
  *
  * DuckDB cannot read PME files, so the oracle compares against the same
  * rows read from the plaintext source table (SURVEY.md §2 Q24).
  */
object CryptoParity {

  /** Policy for the nation table: one column per privilege tier plus a
    * plaintext key column — the reference's policy shape
    * (write_encrypted_parquet.py:75-79) on the oracle corpus.
    */
  private[graft] val nationPolicy = EncryptionPolicy(columnKeys = Map(
    PrivilegeLevel.Internal     -> Seq("n_regionkey"),
    PrivilegeLevel.Confidential -> Seq("n_name")))

  /** `df` written PME-encrypted under `policy` as fixture `name` of the
    * "crypto" scratch area ([[graft.io.Scratch]]): once per dataset, then
    * adopted by every later session and JVM. Another JVM's KMS can unwrap
    * the files because TestKmsServer's master keys are fixed (the
    * kms_server.py values) and every read pins the running KMS's URL and
    * instance id in its conf, overriding the writer's URL recorded in the
    * key material.
    */
  private def encryptedCopy(d: String, name: String, df: => DataFrame,
      policy: EncryptionPolicy, zstdLevel: Int): String =
    Scratch.fixture("crypto", d, name) { dir =>
      EncryptedParquet.write(df, dir, policy, TestKmsServer.shared.url,
        mode = "overwrite", zstdLevel = zstdLevel)
    }

  /** Encrypted nation at the reference's zstd level 19 — write once,
    * read three ways.
    */
  private[graft] def encryptedDir(s: SparkSession, d: String): String =
    encryptedCopy(d, "nation", Tables.nation(s, d), nationPolicy, zstdLevel = 19)

  private def roundtrip(s: SparkSession, d: String,
      token: Option[String], columns: Seq[String]): DataFrame = {
    val dir = encryptedDir(s, d)
    val df = EncryptedParquet.read(s, dir, TestKmsServer.shared.url, token)
    df.select(columns.map(df.col): _*).orderBy("n_nationkey")
  }

  /** Q24 — full roundtrip at RESTRICTED: every column decrypts. */
  val q24: Q = Q(
    "q24_encrypted_roundtrip",
    (s, d) => roundtrip(s, d, Some("RESTRICTED"),
      Seq("n_nationkey", "n_name", "n_regionkey")),
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"))

  /** Q24b — privilege-scoped projection: INTERNAL token can read the
    * plaintext key and the INTERNAL column, never touching the
    * CONFIDENTIAL one (privilege is checked per projected column,
    * read_encrypted_parquet.py:43 / README.md:30-31).
    */
  val q24b: Q = Q(
    "q24b_encrypted_projection",
    (s, d) => roundtrip(s, d, Some("INTERNAL"), Seq("n_nationkey", "n_regionkey")),
    Some("SELECT n_nationkey, n_regionkey FROM nation ORDER BY n_nationkey"))

  /** Policy for the at-scale fact table: the money columns are the
    * sensitive ones; keys/dates stay plaintext so layout-level pruning
    * and joins on keys need no privilege.
    */
  private[graft] val lineitemPolicy = EncryptionPolicy(columnKeys = Map(
    PrivilegeLevel.Internal     -> Seq("l_discount"),
    PrivilegeLevel.Confidential -> Seq("l_extendedprice")))

  /** Encrypted lineitem, an untimed fixture (the bench's per-group
    * warmup builds or adopts it before q24d is timed). zstd level 3, not
    * the reference's demo-fixture level 19: at fact-table scale level-19
    * write CPU dwarfs the encryption overhead the query exists to
    * measure; q24 keeps exact reference parity (19) on the
    * reference-shaped dataset.
    */
  private[graft] def encryptedLineitemDir(s: SparkSession, d: String): String =
    encryptedCopy(d, "lineitem", Tables.lineitem(s, d), lineitemPolicy, zstdLevel = 3)

  /** Q24d — encryption overhead at fact-table scale (the BASELINE §B
    * promise): q01's filter+project, but over the PME-encrypted lineitem
    * at RESTRICTED. Same oracle as q01 — the encrypted path must return
    * byte-identical rows — and BENCH's q24d-vs-q01 delta IS the measured
    * read-side encryption overhead. Predicate pushdown still applies:
    * PME encrypts page statistics with the column's own DEK, so an
    * authorized reader keeps min/max skipping (README.md:30-31).
    */
  val q24d: Q = Q(
    "q24d_encrypted_scale_scan",
    (s, d) => {
      val df = EncryptedParquet.read(s, encryptedLineitemDir(s, d),
        TestKmsServer.shared.url, Some("RESTRICTED"))
      df.filter(
          df("l_shipdate") >= org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.lit("1996-01-01")) &&
          df("l_shipdate") < org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.lit("1997-01-01")) &&
          df("l_discount").between(0.05, 0.07) &&
          df("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
            |FROM lineitem
            |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
            |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
            |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** Q24c — tokenless read of plaintext column under plaintext footer:
    * only the PUBLIC footer-signing KEK is unwrapped, which requires no
    * privilege (README.md:126-127).
    */
  val q24c: Q = Q(
    "q24c_encrypted_plaintext_col",
    (s, d) => roundtrip(s, d, None, Seq("n_nationkey")),
    Some("SELECT n_nationkey FROM nation ORDER BY n_nationkey"))

  /** Policy for the documents corpus: the text itself is CONFIDENTIAL,
    * the key column stays plaintext.
    */
  private val documentsPolicy = EncryptionPolicy(columnKeys = Map(
    PrivilegeLevel.Confidential -> Seq("text")))

  private[graft] def encryptedDocsDir(s: SparkSession, d: String): String =
    encryptedCopy(d, "documents", Tables.documents(s, d), documentsPolicy, zstdLevel = 3)

  /** Q24e — an ENGINE operator over an ENCRYPTED dataset: q21's exact
    * dedup (normalized-text grouping, deterministic keeper) on a
    * PME-encrypted copy of `documents` whose text column is
    * CONFIDENTIAL. The reference's core thesis is that PME preserves
    * regular query behavior — projection, pushdown, compression
    * (README.md:17-19) — so the dedup plan, shuffle and result must be
    * identical to the plaintext run; only the scan decrypts. Shares
    * q21's oracle, which runs on the PLAINTEXT table: a hash match IS
    * the preserved-functionality proof.
    */
  val q24e: Q = Q(
    "q24e_encrypted_dedup",
    (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = EncryptedParquet.read(s, encryptedDocsDir(s, d),
        TestKmsServer.shared.url, Some("CONFIDENTIAL"))
      docs
        .groupBy(graft.ops.Dedup.normText(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")
    },
    Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            |FROM documents
            |GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
            |ORDER BY keeper_id""".stripMargin))

  /** Policy for the streamed event copy: the analytic payload columns are
    * CONFIDENTIAL, keys stay plaintext.
    */
  private val eventsPolicy = EncryptionPolicy(columnKeys = Map(
    PrivilegeLevel.Confidential -> Seq("event_type", "value")))

  /** Events replayed through a Structured Streaming job into the
    * PME-encrypted parquet sink (checkpointed, Trigger.AvailableNow), as
    * one fixture holding the source copy, the sink and the checkpoint;
    * its marker lands after the stream terminates. The stream is built
    * on `s` itself: EncryptedParquet.withEncryptedStream binds the policy
    * on a scoped clone, so `s`'s conf never changes. Returns the sink dir.
    */
  private[graft] def encryptedStreamDir(s: SparkSession, d: String): String =
    Scratch.fixture("crypto", d, "events_stream") { base =>
      val srcDir = s"$base/src"
      val sinkDir = s"$base/sink"
      val ckptDir = s"$base/ckpt"
      graft.Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .write.parquet(srcDir)
      val schema = Parquet.read(s, srcDir).schema
      EncryptedParquet.withEncryptedStream(
          s.readStream.schema(schema).parquet(srcDir),
          sinkDir, ckptDir, eventsPolicy, TestKmsServer.shared.url,
          zstdLevel = 3) { w =>
        w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    } + "/sink"

  /** Q24f — streaming ingestion, encrypted at rest, queried batch: events
    * streamed through the checkpointed PME sink, then aggregated from the
    * encrypted files at CONFIDENTIAL. The oracle runs on the PLAINTEXT
    * events table — a hash match proves the whole stream→encrypt→decrypt
    * →aggregate path is value-exact (exactly-once AND preserved query
    * behavior in one check).
    */
  val q24f: Q = Q(
    "q24f_encrypted_stream",
    (s, d) => {
      import org.apache.spark.sql.functions._
      EncryptedParquet.read(s, encryptedStreamDir(s, d),
          TestKmsServer.shared.url, Some("CONFIDENTIAL"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.Canon.rsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
            |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  val queries: Seq[Q] = Seq(q24, q24b, q24c, q24d, q24e, q24f)
}
