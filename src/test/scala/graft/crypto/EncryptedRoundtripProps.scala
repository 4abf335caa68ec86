package graft.crypto

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based laws (SURVEY.md §5): random row batches → encrypted
  * write → full-privilege read equals input; random column-policy
  * partitions obey the per-column minimum-privilege law.
  * (Raw ScalaCheck generators sampled with fixed seeds — the
  * scalatest/scalacheck bridge isn't in the offline dependency cache.)
  */
class EncryptedRoundtripProps extends SparkTestBase {

  private lazy val kms = new TestKmsServer().start()

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("a", StringType, nullable = true),
    StructField("b", IntegerType, nullable = true),
    StructField("c", DoubleType, nullable = true)))

  private def rowGen(k: Long): Gen[Row] = for {
    a <- Gen.option(Gen.asciiPrintableStr.map(_.take(64)))
    b <- Gen.option(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    c <- Gen.option(Gen.chooseNum(-1e9, 1e9))
  } yield Row(k, a.orNull, b.map(Int.box).orNull, c.map(Double.box).orNull)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("roundtrip law: encrypt(write) then read@RESTRICTED == identity") {
    for (trial <- 1 to 5) {
      val level = PrivilegeLevel.all(trial % PrivilegeLevel.all.size)
      val rows = (1L to 20L).map(k => sample(rowGen(k), trial * 1000L + k))
      val dir = tempDir("graft-prop-")
      val policy = EncryptionPolicy(columnKeys = Map(level -> Seq("a", "c")))
      val df = spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      EncryptedParquet.write(df, dir, policy, kms.url, mode = "overwrite")
      val back = EncryptedParquet.readCollected(
        spark, dir, kms.url, Some("RESTRICTED"))
      val got = back.collect().map(r => r.getLong(0) -> r.toSeq).toMap
      val want = rows.map(r => r.getLong(0) -> r.toSeq).toMap
      assert(got == want, s"trial $trial level $level")
    }
  }

  test("privilege law: column readable iff token >= its policy level") {
    val dir = tempDir("graft-prop2-")
    val policy = EncryptionPolicy(columnKeys = Map(
      PrivilegeLevel.Internal -> Seq("a"),
      PrivilegeLevel.Restricted -> Seq("c")))
    val rows = (1L to 5L).map(i => Row(i, s"s$i", i.toInt, i * 1.5))
    val df = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    EncryptedParquet.write(df, dir, policy, kms.url, mode = "overwrite")
    for {
      token <- None +: PrivilegeLevel.all.map(l => Some(l))
      colName <- Seq("k", "a", "b", "c")
    } {
      val need = policy.levelOf(colName)
      val allowed = need.forall(lvl => PrivilegeLevel.mayUnwrap(lvl, token))
      val attempt = scala.util.Try(
        EncryptedParquet.readCollected(spark, dir, kms.url,
          token.map(_.name), Seq(colName)).count())
      assert(attempt.isSuccess == allowed,
        s"col=$colName token=$token expected allowed=$allowed got $attempt")
    }
  }
}
