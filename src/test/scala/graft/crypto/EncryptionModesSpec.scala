package graft.crypto

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.scalatest.BeforeAndAfterAll

/** The two PME format modes the reference documents as explicit CHOICES
  * but exercises only one side of (round-4 verdict findings 1-2):
  *
  *  - **Encrypted footer** (`plaintextFooter = false`): the format
  *    default the reference opts OUT of at write_encrypted_parquet.py:85
  *    / README.md:49-54. The whole footer is encrypted under the footer
  *    KEK, so a legacy reader (no crypto config) cannot even list the
  *    schema — the mode most production deployments pick.
  *  - **AES_GCM_CTR_V1**: the cheaper cipher the reference declines at
  *    write_encrypted_parquet.py:82 — data pages are encrypted with
  *    unauthenticated CTR (no 16-byte GCM tag per module), metadata
  *    modules stay GCM. Faster reads, integrity protection only on
  *    metadata; the tradeoff cell is measured in CryptoMeasure.
  *
  * Both modes must be pure policy-knob changes: same write/read API,
  * same privilege enforcement, golden rows intact.
  */
class EncryptionModesSpec extends SparkTestBase with BeforeAndAfterAll {

  private var kms: TestKmsServer = _
  private var encFooterDir: String = _
  private var ctrDir: String = _
  private var gcmDir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    kms = new TestKmsServer().start()
    encFooterDir = tempDir("graft-encfooter-")
    ctrDir = tempDir("graft-ctr-")
    gcmDir = tempDir("graft-gcm-")
    EncryptedParquet.write(Fixtures.people(spark), encFooterDir,
      EncryptionPolicy.reference.copy(plaintextFooter = false), kms.url,
      mode = "overwrite")
    EncryptedParquet.write(Fixtures.people(spark), ctrDir,
      EncryptionPolicy.reference.copy(algorithm = "AES_GCM_CTR_V1"), kms.url,
      mode = "overwrite")
    EncryptedParquet.write(Fixtures.people(spark), gcmDir,
      EncryptionPolicy.reference, kms.url, mode = "overwrite")
  }

  override def afterAll(): Unit = {
    kms.stop()
    super.afterAll()
  }

  private def partFile(dir: String): java.io.File =
    new java.io.File(dir).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .getOrElse(fail(s"no parquet part file in $dir"))

  private def lastMagic(dir: String): String = {
    val f = partFile(dir)
    val in = new java.io.RandomAccessFile(f, "r")
    try {
      in.seek(f.length() - 4)
      val b = new Array[Byte](4)
      in.readFully(b)
      new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    } finally in.close()
  }

  private def read(dir: String, token: Option[String], cols: String*): Seq[Seq[Any]] =
    EncryptedParquet.readCollected(spark, dir, kms.url, token, cols)
      .orderBy(cols.head)
      .collect().toIndexedSeq.map(_.toSeq)

  private def causedByAccessDenied(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[KeyAccessDeniedException] ||
          Option(t.getMessage).exists(m => m.contains("denied") || m.contains("403")))
        return true
      t = t.getCause
    }
    false
  }

  // ---------------------------------------------------------------- footer

  test("encrypted footer: file magic is PARE (plaintext-footer files stay PAR1)") {
    // The format-level distinction: encrypted-footer files swap the
    // trailing magic to PARE so readers know the footer needs decryption.
    assert(lastMagic(encFooterDir) == "PARE", "encrypted-footer file must end PARE")
    assert(lastMagic(gcmDir) == "PAR1", "plaintext-footer file must end PAR1")
  }

  test("encrypted footer: RESTRICTED roundtrip returns the golden rows") {
    val got = read(encFooterDir, Some("RESTRICTED"), "id", "date_of_birth",
      "first_name", "last_name", "social_security_number")
    assert(got == Fixtures.peopleRows.map(_.toSeq))
  }

  test("encrypted footer: a legacy reader cannot even list the schema") {
    // The contrast with EncryptedRoundtripSpec's plaintext-footer test:
    // there, a reader with NO crypto config reads the plaintext id
    // column; here the same reader must fail at schema inference —
    // without the footer key there is nothing legible in the file.
    // No crypto key is bound to the session's Hadoop conf (crypto travels
    // as per-relation options), so this really is a crypto-less reader.
    val hadoop = spark.sessionState.newHadoopConf()
    val bound = EncryptionPolicy.writeConfMap(EncryptionPolicy.reference, "kms", Some("token"))
      .keySet.filter(k => hadoop.get(k) != null)
    assert(bound.isEmpty, s"crypto keys set on the session's Hadoop conf: $bound")
    val e = intercept[Exception](spark.read.parquet(encFooterDir).schema)
    def chainMentions(t: Throwable): Boolean =
      Option(t).exists(x => Option(x.getMessage).exists(m =>
        m.toLowerCase.contains("footer") || m.contains("PARE")) ||
        chainMentions(x.getCause))
    assert(chainMentions(e), s"expected an encrypted-footer failure, got: $e")
  }

  test("encrypted footer: tokenless reader WITH crypto config reads only plaintext id") {
    // The footer KEK is PUBLIC (the reference's choice), and PUBLIC
    // unwraps tokenless — so a crypto-configured reader without any
    // privilege still lists the schema and reads the one plaintext
    // column, while every key-protected column stays denied.
    assert(read(encFooterDir, None, "id").map(_.head) == Seq(1L, 2L, 3L))
    assert(causedByAccessDenied(
      intercept[Exception](read(encFooterDir, None, "id", "date_of_birth"))))
  }

  test("encrypted footer: privilege lattice still enforced per column") {
    val ok = read(encFooterDir, Some("CONFIDENTIAL"), "id", "first_name", "last_name")
    assert(ok.map(_.head) == Seq(1L, 2L, 3L))
    assert(causedByAccessDenied(intercept[Exception](
      read(encFooterDir, Some("CONFIDENTIAL"), "id", "social_security_number"))))
  }

  // ---------------------------------------------------------------- cipher

  test("AES_GCM_CTR_V1: RESTRICTED roundtrip returns the golden rows") {
    val got = read(ctrDir, Some("RESTRICTED"), "id", "date_of_birth",
      "first_name", "last_name", "social_security_number")
    assert(got == Fixtures.peopleRows.map(_.toSeq))
  }

  test("AES_GCM_CTR_V1: privilege denial unchanged") {
    assert(causedByAccessDenied(intercept[Exception](
      read(ctrDir, Some("INTERNAL"), "id", "first_name"))))
  }

  test("AES_GCM_CTR_V1: data modules drop the GCM tag (file strictly smaller)") {
    // Same rows, same codec/level/page version — the only difference is
    // the cipher, and CTR data modules carry no 16-byte auth tag. The
    // size delta proves the algorithm knob reached the file format
    // rather than being silently ignored.
    val ctr = partFile(ctrDir).length()
    val gcm = partFile(gcmDir).length()
    assert(ctr < gcm, s"CTR file ($ctr B) should be smaller than GCM ($gcm B)")
  }

  test("AES_GCM_CTR_V1: footer stays plaintext-readable with policy columns marked") {
    // CTR applies to modules, not footer mode: a keyless reader still
    // sees the schema and per-column crypto flags, like the GCM file.
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val bare = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(partFile(ctrDir).getAbsolutePath),
        new Configuration(false)))
    try {
      val cols = bare.getFooter.getBlocks.asScala.head.getColumns.asScala
      val encryptedCols = EncryptionPolicy.reference.columnKeys.values.flatten.toSet
      cols.foreach { c =>
        val name = c.getPath.asScala.mkString(".")
        assert(c.isEncrypted == encryptedCols.contains(name),
          s"$name: isEncrypted=${c.isEncrypted}")
      }
    } finally bare.close()
  }
}
