package graft.io

import graft.crypto.EncryptionPolicy
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.graft.Sessions
import org.apache.spark.sql.streaming.DataStreamWriter

/** Encrypted parquet write/read over Spark's native parquet source —
  * the reference's A2/A4 operators (write_encrypted_parquet.py:21-28,91;
  * read_encrypted_parquet.py:28-43) as two library calls.
  *
  * Crypto config travels as PER-RELATION datasource options: Spark merges
  * reader/writer options into the Hadoop conf each scan task and write
  * job builds (`newHadoopConfWithOptions`), so parquet-mr's
  * PropertiesDrivenCryptoFactory + our HttpKmsClient are instantiated
  * from those strings inside each task — the same code works on a
  * 1000-executor cluster, each executor resolving its own KMS connection,
  * KEK-cached per JVM for the configured TTL.
  *
  * Because nothing touches the session-global Hadoop configuration, each
  * encrypted DataFrame carries its own KMS endpoint and privilege token
  * for its whole (lazy) lifetime: two reads at different privilege levels
  * can be built and executed in any order, concurrently with plaintext
  * jobs on the same session. (Round-2 advisor finding: the previous
  * session-conf approach made correctness depend on build-then-act
  * ordering between crypto queries.)
  */
object EncryptedParquet {

  /** Write `df` encrypted under `policy`. Wrapping needs no privilege
    * (kms_server.py:135-139 — wrap is unauthenticated), so no token.
    * Physical layout matches the reference: zstd (level via
    * parquet.compression.codec.zstd.level) and v2 data pages
    * (write_encrypted_parquet.py:23-25). The default mode is
    * `errorifexists`, the reference's `existing_data_behavior="error"`
    * (write_encrypted_parquet.py:26) — callers overwrite explicitly, as
    * the reference does with its pre-write rmtree.
    */
  def write(df: DataFrame, path: String, policy: EncryptionPolicy,
      kmsUrl: String, mode: String = "errorifexists",
      zstdLevel: Int = 19,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    df.write.mode(mode)
      .options(cryptoOptions(policy, kmsUrl, zstdLevel))
      .options(extraOptions)
      .parquet(path)
  }

  private def cryptoOptions(policy: EncryptionPolicy, kmsUrl: String,
      zstdLevel: Int): Map[String, String] =
    EncryptionPolicy.writeConfMap(policy, kmsUrl, accessToken = None) ++
      Map("parquet.compression.codec.zstd.level" -> zstdLevel.toString,
        "compression" -> "zstd", "parquet.writer.version" -> "v2")

  /** PME-encrypted STREAMING parquet sink, composing exactly-once
    * (manifest-committed, checkpointed) file output with
    * encryption-at-rest.
    *
    * Unlike the batch path, `FileStreamSink.addBatch` builds each write
    * job's Hadoop conf from `SessionState.newHadoopConf()` — datasource
    * options are NOT merged (verified against the Spark 4.1 bytecode), so
    * per-relation options can't carry the crypto factory here. The
    * supported channel is the session conf overlay: `newHadoopConf()`
    * copies every session SQLConf entry verbatim into the Hadoop conf it
    * hands each write job. So the policy is bound on a scoped clone of
    * `df`'s session ([[org.apache.spark.sql.graft.Sessions]]) that writes
    * the stream `run` configures, starts and awaits: every committed file
    * is encrypted, and `df`'s own session never sees the binding.
    */
  def withEncryptedStream[T](df: DataFrame, path: String, checkpointDir: String,
      policy: EncryptionPolicy, kmsUrl: String,
      zstdLevel: Int = 19)
      (run: DataStreamWriter[Row] => T): T = {
    // The codec itself is the sink's own option below.
    val binding = cryptoOptions(policy, kmsUrl, zstdLevel) - "compression"
    run(Sessions.rebind(df, Sessions.scoped(df.sparkSession, binding)).writeStream
      .format("parquet")
      .option("compression", "zstd")
      .option("path", path)
      .option("checkpointLocation", checkpointDir))
  }

  /** Read an encrypted dataset with the given privilege token. Column
    * decryption (and therefore authorization) happens only for columns the
    * query actually projects — select() before an action keeps privilege
    * checks per-column, like the reference's scanner(columns=...)
    * (read_encrypted_parquet.py:43). Insufficient privilege surfaces as a
    * KeyAccessDeniedException-caused job failure at action time. The
    * schema is resolved through [[Parquet.read]], whose format memoizes
    * it keyed on the options and so on the token: a token that cannot
    * unwrap an encrypted footer fails at this call, every time, whatever
    * another token's read left cached.
    *
    * Row groups a filter rules out by their statistics are skipped before
    * any of their columns is decrypted — by Spark's own pushdown on date,
    * UTC-timestamp and numeric columns, and by [[PruningParquetFormat]] on
    * `TIMESTAMP_NTZ` columns. So a read whose filter matches some row
    * group needs every projected column's key and is denied without it,
    * while a read whose filter matches no row group returns zero rows and
    * unwraps no column key: it reveals only what the statistics it was
    * tested against hold, which for a plaintext filter column is
    * plaintext already. Pruning itself asks for no key the scan would
    * not: the filter column's statistics (decrypted under that column's
    * key when it is encrypted — a key the scan needs to read the column
    * anyway) and the first column's chunk offsets, used only when that
    * metadata is plaintext.
    */
  def read(spark: SparkSession, path: String, kmsUrl: String,
      accessToken: Option[String]): DataFrame =
    Parquet.read(spark, path, EncryptionPolicy.readConfMap(kmsUrl, accessToken))

  /** Order-independent content fingerprint of a dataset: row count plus
    * the sum of per-row xxhash64 over EVERY column (sorted by name). The
    * verify step of both rotations — [[rotateByRewrite]] and the index's
    * [[graft.ops.IvfPq.rotateIndexKeys]] — compares these, never bare
    * counts: count() is served from footer/row-group metadata — per
    * BASELINE.md's own KMS-call measurement, a read touching no
    * encrypted column unwraps only the footer KEK — so a count-based
    * verify never exercises freshly-minted column KEKs/DEKs, and two
    * copies with equal row counts but different values look identical
    * to it (ADVICE r13). The hash forces every column, encrypted ones
    * included, through the decrypt path; summing makes it insensitive to
    * row order, which a rewrite's repartition does not preserve. The sum
    * runs in decimal(38,0) — a long sum of 2⁶³-range hashes overflows
    * (and under ANSI mode, Spark 4's default, that ABORTS the verify
    * rather than wrapping). `df` is the dataset as read — through
    * [[read]] for an encrypted one.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.sorted.map(col): _*)
        .cast("decimal(38,0)")).as("h")).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** Rewrite-based key rotation for INTERNAL key material (r9 verdict
    * item 5). parquet-mr's `KeyToolkit.rotateMasterKeys` rewrites only
    * EXTERNAL `_KEY_MATERIAL_FOR_*` sidecars; with internal material —
    * the reference's default (write_encrypted_parquet.py:84) — the
    * wrapped KEKs live inside each immutable footer, so rotation IS
    * re-encryption: one privileged scan of the dataset and one fresh
    * encrypted write, minting fresh DEKs and fresh KEKs wrapped by the
    * KMS's current master keys. (That full-rewrite cost is exactly why
    * the reference's README positions external material for 100 TB key
    * lifecycle management; for datasets written with internal material
    * this is the rotation that exists, and it parallelizes as one
    * ordinary Spark read→write job.)
    *
    * The token-less writer's KEK cache is cleared first so the writer
    * cannot reuse a cached pre-rotation KEK — every rotated file
    * references only KEK ids minted by this call; other tokens' reader
    * caches stay warm. The rewrite lands in a temp sibling and
    * swaps in by rename through the Hadoop FileSystem API ([[Afs]]):
    * readers opening mid-swap see old or new files, never a partial mix
    * of both generations, on any backend with directory rename (local,
    * HDFS). On an object store rename is copy+delete — there, publish
    * rotated data as a fresh versioned prefix behind a marker (the
    * AnnIndex pointer-flip discipline) instead of a same-path swap.
    *
    * `accessToken` must unwrap EVERY column level in the dataset (the
    * same privilege `rotateMasterKeys` needs).
    */
  def rotateByRewrite(spark: SparkSession, path: String,
      policy: EncryptionPolicy, kmsUrl: String, accessToken: Option[String],
      zstdLevel: Int = 19): Unit = {
    val tmp = path + ".rotate-tmp"
    val old = path + ".rotate-old"
    // Crash recovery BEFORE any delete: a prior invocation that renamed
    // path -> .rotate-old but died before .rotate-tmp -> path leaves the
    // ONLY original at .rotate-old — blindly sweeping both siblings here
    // (as this method once did) would destroy every remaining copy.
    // Restore the original first; the sweep below then only ever removes
    // redundant copies.
    if (!Afs.exists(path) && Afs.exists(old)) {
      require(Afs.rename(old, path),
        s"half-swapped rotation state at $path: restore of $old failed — " +
          "original preserved there, nothing deleted")
    }
    require(Afs.exists(path), s"no dataset at $path to rotate")
    // BOTH siblings present means a prior rotation stopped between its
    // swap and its cleanup. Two states share that fingerprint: a benign
    // crash after verification (both copies hold the same content — the
    // .rotate-old sweep below is then safe), and a FAILED post-swap
    // verification, where the live path holds the bad rotated copy and
    // .rotate-old is the only good one — a blind sweep would make that
    // loss permanent on retry (r11 ADVICE). Disambiguate by content
    // ([[fingerprint]] — equal row counts prove nothing, see there);
    // anything but a readable exact match refuses and leaves both
    // copies for the operator.
    // When the recovery branch already fingerprinted the live copy,
    // reuse it as the pre-rotation fingerprint — nothing modifies the
    // dataset in between, and it is a full decrypted scan worth not
    // paying twice.
    var verifiedLive: Option[(Long, String)] = None
    if (Afs.exists(old)) {
      val live = try fingerprint(read(spark, path, kmsUrl, accessToken))
                 catch { case e: Throwable =>
                   throw new IllegalStateException(
                     s"$path and $old both exist and the live copy is unreadable — " +
                       s"a prior rotation likely failed verification; the good copy " +
                       s"is at $old. Refusing to rotate; resolve manually.", e)
                 }
      val prior = fingerprint(read(spark, old, kmsUrl, accessToken))
      require(live == prior,
        s"$path ${show(live)} and $old ${show(prior)} both exist and disagree — " +
          s"a prior rotation failed verification; refusing to rotate or delete " +
          s"either copy. Resolve manually (the pre-rotation data is at $old).")
      verifiedLive = Some(live)
    }
    Afs.delete(tmp); Afs.delete(old)
    EncryptionPolicy.flushKeyCaches(None)
    val before = verifiedLive.getOrElse(
      fingerprint(read(spark, path, kmsUrl, accessToken)))
    write(read(spark, path, kmsUrl, accessToken), tmp, policy, kmsUrl,
      mode = "overwrite", zstdLevel = zstdLevel)
    require(Afs.rename(path, old),
      s"rotation swap failed for $path — dataset untouched")
    if (!Afs.rename(tmp, path)) {
      // Roll the first rename back so the dataset is never left missing
      // mid-swap; the rotated copy stays at tmp for inspection.
      require(Afs.rename(old, path),
        s"rotation swap failed for $path AND restore failed — " +
          s"original preserved at $old")
      throw new IllegalStateException(
        s"rotation swap failed for $path — original restored, rotated copy at $tmp")
    }
    // Readers (including the verification below) must unwrap the FRESH
    // KEKs, not replay a warm pre-rotation cache entry keyed by the same
    // token.
    EncryptionPolicy.flushKeyCaches(accessToken)
    // Drop the pre-rotation copy only after the swapped-in dataset proves
    // complete and readable: its fingerprint decrypts every column of
    // every file under the fresh keys, so a truncated, key-broken or
    // altered file fails it.
    val after = fingerprint(read(spark, path, kmsUrl, accessToken))
    require(after == before,
      s"rotated dataset at $path holds ${show(after)}, expected ${show(before)} — " +
        s"pre-rotation copy preserved at $old")
    Afs.delete(old)
  }

  private def show(fp: (Long, String)): String = s"(${fp._1} rows, hash ${fp._2})"

  /** Eager read: project, collect, return a local DataFrame. For
    * tests/demos — not for 100 TB scans (use `read` and keep the plan
    * lazy/distributed).
    */
  def readCollected(spark: SparkSession, path: String, kmsUrl: String,
      accessToken: Option[String], columns: Seq[String] = Nil): DataFrame = {
    val df0 = read(spark, path, kmsUrl, accessToken)
    val df = if (columns.isEmpty) df0 else df0.select(columns.map(df0.col): _*)
    val rows = df.collect().toIndexedSeq
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      df.schema)
  }
}
