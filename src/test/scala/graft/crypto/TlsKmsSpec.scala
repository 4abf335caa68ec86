package graft.crypto

import java.nio.file.{Files, Paths}
import java.security.KeyStore

import scala.sys.process._

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import javax.net.ssl.{KeyManagerFactory, SSLContext}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.crypto.ParquetCryptoRuntimeException
import org.scalatest.BeforeAndAfterAll

/** TLS path of the KMS client (reference parity: kms_client.py:30-37
  * builds an ssl context honoring SSL_CERT_FILE). A self-signed cert is
  * generated with the JDK's keytool; the server speaks HTTPS; the client
  * trusts it via the `parquet.encryption.kms.ssl.cert.file` property.
  */
class TlsKmsSpec extends SparkTestBase with BeforeAndAfterAll {

  private val dir = tempDir("graft-tls-")
  private val ksPath = s"$dir/kms.p12"
  private val pemPath = s"$dir/kms-ca.pem"
  private val storePass = "grafttest"
  private var kms: TestKmsServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(Seq("keytool", "-genkeypair", "-alias", "kms", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "30", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", storePass,
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1").! == 0)
    assert(Seq("keytool", "-exportcert", "-rfc", "-alias", "kms",
      "-keystore", ksPath, "-storepass", storePass, "-file", pemPath).! == 0)
    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(Paths.get(ksPath))
    try ks.load(in, storePass.toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, storePass.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    kms = new TestKmsServer(ssl = Some(ctx)).start()
  }

  override def afterAll(): Unit = {
    kms.stop()
    super.afterAll()
  }

  private def confWithCa: Configuration = {
    val c = new Configuration(false)
    c.set(HttpKmsClient.SslCertFileProperty, pemPath)
    c
  }

  test("https URL is exposed and wrap/unwrap roundtrips over TLS") {
    assert(kms.url.startsWith("https://"))
    val client = new HttpKmsClient
    client.initialize(confWithCa, kms.url, kms.url, "RESTRICTED")
    val dek = Array.range(0, 32).map(_.toByte)
    val wrapped = client.wrapKey(dek, "CONFIDENTIAL")
    assert(client.unwrapKey(wrapped, "CONFIDENTIAL").toSeq == dek.toSeq)
  }

  test("untrusted self-signed cert is rejected without the CA property") {
    val client = new HttpKmsClient
    client.initialize(new Configuration(false), kms.url, kms.url, "RESTRICTED")
    val dek = Array.range(0, 32).map(_.toByte)
    val e = intercept[ParquetCryptoRuntimeException] {
      client.wrapKey(dek, "CONFIDENTIAL")
    }
    assert(e.getMessage.toLowerCase.contains("failed"))
  }

  test("full encrypted parquet roundtrip over an HTTPS KMS") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = Option(hconf.get(HttpKmsClient.SslCertFileProperty))
    hconf.set(HttpKmsClient.SslCertFileProperty, pemPath)
    try {
      val out = tempDir("graft-tls-data-")
      val df = Fixtures.people(spark)
      EncryptedParquet.write(df, out, EncryptionPolicy.reference, kms.url,
        mode = "overwrite")
      val back = EncryptedParquet.readCollected(
        spark, out, kms.url, Some("RESTRICTED"))
      assert(back.count() === df.count())
    } finally prev match {
      case Some(v) => hconf.set(HttpKmsClient.SslCertFileProperty, v)
      case None    => hconf.unset(HttpKmsClient.SslCertFileProperty)
    }
  }
}
