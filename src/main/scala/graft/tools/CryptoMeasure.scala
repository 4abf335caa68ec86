package graft.tools

import graft.Tables
import graft.crypto.EncryptionPolicy
import graft.crypto.CryptoParity.{lineitemPolicy, nationPolicy}
import graft.io.{Afs, EncryptedParquet, Scratch}
import graft.obs.QueryMetrics.{seconds, warmSeconds}
import graft.kms.TestKmsServer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measures the two BASELINE.md §B cells the reference protocol promises
  * but timing alone can't show:
  *
  *  1. encrypted/plaintext FILE SIZE ratio at identical layout (codec,
  *     level, page version) — PME's at-rest overhead is per-module GCM
  *     nonces+tags plus wrapped key material in the footer, expected
  *     ratio ≈ 1.0 and shrinking with file size;
  *  2. KMS call counts per job — with double wrapping
  *     (write_encrypted_parquet.py:81) the KMS is called once per KEK,
  *     not per DEK: a write wraps each KEK used (columns + footer) once
  *     per JVM per cache TTL, a read unwraps only the KEKs the projected
  *     columns need. At cluster scale the bound is levels × executors.
  *
  * A FRESH TestKmsServer per run (fresh URL ⇒ fresh KeyToolkit client
  * cache entry, since the instance id is the URL) keeps the counters
  * uncontaminated by the bench's own q24 queries.
  */
object CryptoMeasure {

  /** Standalone entry point for the crypto cells while tuning
    * (`sbt "runMain graft.tools.CryptoMeasure [sfDir]"`) — the same line
    * Bench emits, without timing the whole suite.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.localSession(cpus)
    println(run(spark, sfDir))
    spark.stop()
  }

  private def dirBytes(p: String): Long =
    Afs.filesUnder(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum

  /** Plaintext write at the exact layout the encrypted write uses. */
  private def writePlain(df: DataFrame, path: String, zstdLevel: Int): Unit =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", zstdLevel.toString)
      .option("parquet.writer.version", "v2")
      .parquet(path)

  private def sizeRatio(df: DataFrame, policy: EncryptionPolicy,
      kmsUrl: String, zstdLevel: Int): Double = {
    val plainDir = Scratch.tempDir("graft-size-plain-")
    val encDir = Scratch.tempDir("graft-size-enc-")
    try {
      writePlain(df, plainDir, zstdLevel)
      EncryptedParquet.write(df, encDir, policy, kmsUrl,
        mode = "overwrite", zstdLevel = zstdLevel)
      dirBytes(encDir).toDouble / dirBytes(plainDir).toDouble
    } finally { Scratch.delete(plainDir); Scratch.delete(encDir) }
  }

  /** GCM-vs-CTR read overhead (BASELINE §B, the tradeoff the reference
    * declines at write_encrypted_parquet.py:82): the fact table written
    * once per cipher at identical layout, then timed on a full decrypting
    * scan. First read warms (file cache, KEK unwraps, codegen); the
    * second is the steady-state cell. Returns (gcmSec, ctrSec).
    */
  private def cipherReadSeconds(spark: SparkSession, sfDir: String,
      policy: EncryptionPolicy, kmsUrl: String): (Double, Double) = {
    def timeRead(dir: String): Double = warmSeconds(
      EncryptedParquet.read(spark, dir, kmsUrl, Some("RESTRICTED"))
        .write.format("noop").mode("overwrite").save())
    val gcmDir = Scratch.tempDir("graft-cipher-gcm-")
    val ctrDir = Scratch.tempDir("graft-cipher-ctr-")
    try {
      val df = Tables.lineitem(spark, sfDir)
      EncryptedParquet.write(df, gcmDir, policy, kmsUrl,
        mode = "overwrite", zstdLevel = 3)
      EncryptedParquet.write(df, ctrDir,
        policy.copy(algorithm = "AES_GCM_CTR_V1"), kmsUrl,
        mode = "overwrite", zstdLevel = 3)
      (timeRead(gcmDir), timeRead(ctrDir))
    } finally { Scratch.delete(gcmDir); Scratch.delete(ctrDir) }
  }

  /** GCM on the composed ANN serve path (r12 verdict item 3): the same
    * corpus indexed twice — plaintext and encrypted under
    * [[graft.ops.AnnIndex.IndexCrypto.policies]] — probed through the
    * identical composed serve (route → ADC → refine). First probe warms
    * (KEK unwraps, codegen, page cache); the second is the steady-state
    * cell. Expected ≈ the 1.2x encrypted-read precedent: decryption
    * rides the pruned scans, everything else is identical.
    */
  private def annServeSeconds(spark: SparkSession, sfDir: String,
      kmsUrl: String): (Double, Double) = {
    import graft.ops.{AnnIndex, IvfPq}
    val root = Scratch.tempDir("graft-ann-crypto-")
    try {
      val crypto = Some(AnnIndex.IndexCrypto(kmsUrl, Some("INTERNAL")))
      val emb = AnnIndex.corpus(spark, sfDir)
      val plainDir = IvfPq.buildFrom(spark, emb, s"$root/plain")
      val encDir = IvfPq.buildFrom(spark, emb, s"$root/enc", crypto)
      val probes = AnnIndex.defaultProbes(spark, sfDir)
      val plainSec = warmSeconds(IvfPq.probeSegments(spark, Seq(plainDir), probes)
        .write.format("noop").mode("overwrite").save())
      val gcmSec = warmSeconds(IvfPq.probeSegments(spark, Seq(encDir), probes,
        crypto = crypto)
        .write.format("noop").mode("overwrite").save())
      (plainSec, gcmSec)
    } finally Scratch.delete(root)
  }

  /** Rotation asymmetry on the composed index (r13): the SAME
    * external-material encrypted index rotated both ways — metadata-only
    * in-place ([[graft.ops.IvfPq.rotateIndexKeysInPlace]]: sidecar
    * rewrites, zero data IO) vs the full-rewrite republish
    * ([[graft.ops.IvfPq.rotateIndexKeys]]: decrypt + re-encrypt the
    * corpus-sized artifact). The ratio is the 100 TB key-lifecycle story
    * in one number: in-place cost is O(files) small-JSON rewrites
    * regardless of data volume, while the rewrite scales with the data.
    * One-shot timings (no warmup): rotation is an operational action, so
    * the cold cost is the honest cell.
    *
    * The rewrite number INCLUDES its pre-flip decrypt-verify (two full
    * fingerprint scans of the new and source versions) and predecessor
    * retirement — work the in-place path doesn't do (r13 ADVICE) — so
    * the verify portion is ALSO measured standalone (the same
    * fingerprint reads, re-run after the rotation) and reported as its
    * own cell, letting the asymmetry be compared like-for-like.
    */
  private def rotationSeconds(spark: SparkSession, sfDir: String,
      kmsUrl: String): (Double, Double, Double) = {
    import graft.ops.{AnnIndex, IvfPq}
    val root = Scratch.tempDir("graft-ann-rotate-")
    try {
      val crypto = AnnIndex.IndexCrypto(kmsUrl, Some("INTERNAL"),
        externalMaterial = true)
      val emb = AnnIndex.corpus(spark, sfDir)
      IvfPq.buildFrom(spark, emb, s"$root/idx", Some(crypto)): Unit
      var srcDir = ""
      val inPlace = seconds { srcDir = IvfPq.rotateIndexKeysInPlace(
        spark, s"$root/idx", crypto) }
      var newDir = ""
      val rewrite = seconds { newDir = IvfPq.rotateIndexKeys(
        spark, s"$root/idx", crypto, Some(crypto)) }
      val verify = seconds(
        Seq("ivf_centroids", "pq_codebook", "ivfpq_lists").foreach { a =>
          Seq(newDir, srcDir).foreach(dir => EncryptedParquet.fingerprint(
            AnnIndex.readArtifact(spark, s"$dir/$a", Some(crypto))): Unit)
        })
      (inPlace, rewrite, verify)
    } finally Scratch.delete(root)
  }

  def run(spark: SparkSession, sfDir: String): String = {
    val kms = new TestKmsServer().start()
    try {
      // --- size ratios (same layout both sides) ---
      val nationRatio = sizeRatio(Tables.nation(spark, sfDir), nationPolicy,
        kms.url, zstdLevel = 19)
      val lineitemRatio = sizeRatio(Tables.lineitem(spark, sfDir), lineitemPolicy,
        kms.url, zstdLevel = 3)
      val (gcmSec, ctrSec) = cipherReadSeconds(spark, sfDir, lineitemPolicy, kms.url)
      val (annPlainSec, annGcmSec) = annServeSeconds(spark, sfDir, kms.url)
      val (rotInPlaceSec, rotRewriteSec, rotVerifySec) =
        rotationSeconds(spark, sfDir, kms.url)

      // --- KMS call counts per job (fresh server => clean counters) ---
      // KeyToolkit's KEK caches are JVM-STATIC (shared across sessions and
      // KMS instances — the bench's own q24 queries pre-warm them, and a
      // warm KEK means zero KMS traffic, which is the production point of
      // double wrapping). Flush them so this measures the cold-JVM cost.
      import org.apache.parquet.crypto.keytools.KeyToolkit
      val encDir = Scratch.tempDir("graft-kmscount-")
      try {
        KeyToolkit.removeCacheEntriesForAllTokens()
        // Write: 2 column KEKs + PUBLIC footer KEK => expect 3 wraps.
        val (w0, _) = kms.counts
        EncryptedParquet.write(Tables.nation(spark, sfDir), encDir, nationPolicy,
          kms.url, mode = "overwrite")
        val (w1, _) = kms.counts
        // Full-projection read at RESTRICTED: all 3 KEKs => expect 3 unwraps.
        KeyToolkit.removeCacheEntriesForAllTokens()
        val (_, u0) = kms.counts
        EncryptedParquet.read(spark, encDir, kms.url, Some("RESTRICTED"))
          .write.format("noop").mode("overwrite").save()
        val (_, u1) = kms.counts
        // Tokenless plaintext-column read: footer KEK only => expect 1.
        KeyToolkit.removeCacheEntriesForAllTokens()
        val df = EncryptedParquet.read(spark, encDir, kms.url, None)
        df.select("n_nationkey").write.format("noop").mode("overwrite").save()
        val (_, u2) = kms.counts
        s"""{"metric":"crypto","nation_size_ratio":${fmt(nationRatio)},""" +
          s""""lineitem_size_ratio":${fmt(lineitemRatio)},""" +
          s""""read_sec_gcm":${fmt(gcmSec)},"read_sec_ctr":${fmt(ctrSec)},""" +
          s""""ctr_vs_gcm":${fmt(ctrSec / gcmSec)},""" +
          s""""ann_probe_sec_plain":${fmt(annPlainSec)},""" +
          s""""ann_probe_sec_gcm":${fmt(annGcmSec)},""" +
          s""""ann_gcm_vs_plain":${fmt(annGcmSec / annPlainSec)},""" +
          s""""rotate_inplace_sec":${fmt(rotInPlaceSec)},""" +
          s""""rotate_rewrite_sec":${fmt(rotRewriteSec)},""" +
          s""""rotate_rewrite_verify_sec":${fmt(rotVerifySec)},""" +
          s""""rewrite_vs_inplace":${fmt(rotRewriteSec / rotInPlaceSec)},""" +
          s""""rewrite_vs_inplace_ex_verify":${
            fmt(math.max(rotRewriteSec - rotVerifySec, 0.0) / rotInPlaceSec)},""" +
          s""""write_wrap_calls":${w1 - w0},""" +
          s""""read_unwrap_calls_restricted":${u1 - u0},""" +
          s""""read_unwrap_calls_tokenless_plaintext_col":${u2 - u1},""" +
          s""""kek_levels_in_policy":3,"sf":"$sfDir"}"""
      } finally Scratch.delete(encDir)
    } finally kms.stop()
  }

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", d)
}
