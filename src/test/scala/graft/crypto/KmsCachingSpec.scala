package graft.crypto

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer

/** A22 parity: double wrapping + KEK caching bound KMS round-trips to
  * O(privilege levels) per JVM per cache-TTL window — not O(rows), not
  * O(columns), not O(reads). The reference fixes a 1-minute lifetime
  * (write_encrypted_parquet.py:74; read_encrypted_parquet.py:36).
  */
class KmsCachingSpec extends SparkTestBase {

  test("KMS unwrap calls are bounded by privilege levels, amortized by cache") {
    val kms = new TestKmsServer().start()
    try {
      val dir = tempDir("graft-cache-")
      EncryptedParquet.write(
        Fixtures.people(spark), dir, EncryptionPolicy.reference, kms.url,
        mode = "overwrite")
      val (wrapsAfterWrite, _) = kms.counts
      // Double wrapping: one KMS wrap per KEK (4 levels incl. footer), not
      // one per DEK (5 columns + footer would need 6+; per-page would be
      // hundreds).
      assert(wrapsAfterWrite <= 4,
        s"write made $wrapsAfterWrite wrap calls; double wrapping should cap at #levels")

      // First read: unwraps each projected level's KEK once.
      val r1 = EncryptedParquet.readCollected(spark, dir, kms.url,
        Some("RESTRICTED"), Seq("id", "date_of_birth", "first_name",
          "last_name", "social_security_number"))
      assert(r1.count() == 3)
      val (_, unwrapsAfterFirst) = kms.counts
      assert(unwrapsAfterFirst <= 4,
        s"first read made $unwrapsAfterFirst unwrap calls (> #levels)")

      // Repeated reads within the 60s TTL: KEKs come from KeyToolkit's
      // cache — no further KMS traffic.
      (1 to 3).foreach { _ =>
        EncryptedParquet.readCollected(spark, dir, kms.url,
          Some("RESTRICTED"), Seq("id", "social_security_number")).count()
      }
      val (_, unwrapsAfterRepeats) = kms.counts
      assert(unwrapsAfterRepeats == unwrapsAfterFirst,
        s"cached reads still hit the KMS: $unwrapsAfterFirst -> $unwrapsAfterRepeats")
    } finally kms.stop()
  }
}
