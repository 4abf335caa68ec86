package graft.functions

import java.lang.reflect.Modifier

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** graft's functions reach every session through the ServiceLoader-
  * installed [[GraftSparkExtensions]]: a `newSession()` that no graft
  * code has touched resolves the whole Column API and every `builders`
  * name from SQL, with no conf and no registration call.
  */
class SessionExtensionSpec extends SparkTestBase {

  private lazy val fresh: SparkSession = spark.newSession()

  test("a fresh session resolves every Column-API helper") {
    val in = fresh.sql(
      """SELECT array(1.0D, 0.0D) AS v, array(0.0D, 1.0D) AS w,
        |  array('a', 'b', 'c', 'd') AS t, array('b', 'c') AS u,
        |  array(0.5D, 1.5D) AS lut, array(0) AS codes,
        |  array(3.0D, 4.0D, 5.0D, 6.0D) AS cb, 'spark' AS s""".stripMargin)
    val helpers: Seq[(String, Column)] = Seq(
      "cosineSim" -> GraftFunctions.cosineSim(col("v"), col("w")),
      "dotProduct" -> GraftFunctions.dotProduct(col("v"), col("w")),
      "simhash64" -> GraftFunctions.simhash64(col("t")),
      "minhashSignature" -> GraftFunctions.minhashSignature(col("t"), 4),
      "minhashBands" -> GraftFunctions.minhashBands(col("t"), 32, 8),
      "ngramShingles" -> GraftFunctions.ngramShingles(col("t"), 3),
      "ngramShingleHashes" -> GraftFunctions.ngramShingleHashes(col("t"), 3),
      "ngramRepetition" -> GraftFunctions.ngramRepetition(col("t"), 1),
      "tokenHashes" -> GraftFunctions.tokenHashes(col("t")),
      "adcDot" -> GraftFunctions.adcDot(col("lut"), col("codes"), 2),
      "pqLut" -> GraftFunctions.pqLut(col("v"), col("cb"), 2, 1),
      "countInSet" -> GraftFunctions.countInSet(col("t"), col("u")),
      "intersectCount" -> GraftFunctions.intersectCount(col("t"), col("u")),
      "charHist" -> GraftFunctions.charHist(col("s")),
      "l1Diff" -> GraftFunctions.l1Diff(
        GraftFunctions.charHist(col("s")), GraftFunctions.charHist(lit("sparks"))))
    val declared = GraftFunctions.getClass.getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && m.getReturnType == classOf[Column])
      .map(_.getName).toSet
    assert(helpers.map(_._1).toSet === declared, "a Column-API helper is not exercised here")
    val row = in.select(helpers.map { case (n, c) => c.as(n) }: _*).collect().head
    helpers.map(_._1).foreach(n => assert(!row.isNullAt(row.fieldIndex(n)), n))
    assert(row.getAs[Long]("intersectCount") == 2L)
  }

  test("a fresh session resolves one SQL call per builders entry") {
    val calls = Map(
      "cosine_sim" -> "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))",
      "dot_product" -> "SELECT dot_product(array(2.0D, 3.0D), array(4.0D, 5.0D))",
      "simhash64" -> "SELECT simhash64(array('a', 'b'))",
      "minhash_signature" -> "SELECT minhash_signature(array('a', 'b'), 4)",
      "minhash_bands" -> "SELECT minhash_bands(array('a', 'b'), 32, 8)",
      "ngram_shingles" -> "SELECT ngram_shingles(array('a', 'b', 'c', 'd'), 3)",
      "ngram_shingle_hashes" -> "SELECT ngram_shingle_hashes(array('a', 'b', 'c', 'd'), 3)",
      "ngram_repetition" -> "SELECT ngram_repetition(array('a', 'b', 'a', 'b'), 1)",
      "token_hashes" -> "SELECT token_hashes(array('a', 'b'))",
      "adc_dot" -> "SELECT adc_dot(array(0.5D, 1.5D), array(0), 2)",
      "pq_lut" -> "SELECT pq_lut(array(1.0D, 2.0D), array(3.0D, 4.0D, 5.0D, 6.0D), 2, 1)",
      "count_in_set" -> "SELECT count_in_set(array('a', 'b'), array('b'))",
      "intersect_count" -> "SELECT intersect_count(array('a', 'b'), array('b', 'c'))",
      "char_hist" -> "SELECT char_hist('spark')",
      "l1_diff" -> "SELECT l1_diff(char_hist('spark'), char_hist('sparks'))",
      "bloom_agg" -> "SELECT bloom_agg(id, 100) FROM range(10)",
      "bloom_might_contain" ->
        "SELECT bloom_might_contain((SELECT bloom_agg(id, 100) FROM range(10)), 3L)")
    assert(calls.keySet === GraftFunctions.builders.map(_._1).toSet,
      "a builders entry has no SQL call here")
    calls.foreach { case (name, q) =>
      val rows = fresh.sql(q).collect()
      assert(rows.length == 1 && !rows.head.isNullAt(0), name)
    }
  }
}
