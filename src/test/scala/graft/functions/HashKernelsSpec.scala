package graft.functions

import graft.SparkTestBase
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Bit-equality of the codegen'd hash kernels against the built-in
  * higher-order-function formulations they replace. Run over the real
  * sf0.001 documents corpus so tokenization edge cases (punctuation,
  * short docs, repeated shingles) are exercised, plus crafted edge rows.
  */
class HashKernelsSpec extends SparkTestBase {

  private lazy val docs = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("tk"))
  }

  test("builder table exposes the full seventeen-function surface") {
    // GraftSparkExtensions injects verbatim from this table into every
    // session, so pinning it here pins every session's SQL surface.
    // bloom_agg / bloom_might_contain joined in round 5 (q65's explicit
    // bloom-routed anti-join shape); adc_dot / pq_lut in round 13 (the
    // codegen'd ADC kernels behind every PQ serve path); char_hist /
    // l1_diff in round 15 (q49's lossless edit-distance prefilter).
    assert(GraftFunctions.builders.map(_._1).toSet === Set(
      "cosine_sim", "dot_product", "simhash64", "minhash_signature",
      "minhash_bands", "ngram_shingles", "ngram_shingle_hashes",
      "ngram_repetition", "token_hashes", "count_in_set", "intersect_count",
      "adc_dot", "pq_lut", "bloom_agg", "bloom_might_contain",
      "char_hist", "l1_diff"))
  }

  test("char_hist/l1_diff: the L1 bound never drops a levenshtein<=3 pair") {
    // The q49 prefilter's soundness contract: levenshtein(a,b) <= t
    // implies l1_diff(char_hist(a), char_hist(b)) <= 2t. Exercise it on
    // every within-brand part-name pair of the real sf0.001 corpus (the
    // exact population q49 filters) — any qualifying pair the L1 test
    // would drop fails this spec before it can corrupt q49's output.
    val p = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        GraftFunctions.charHist(col("p_name")).as("ch"))
    val a = p.as("a"); val b = p.as("b")
    val dropped = a.join(b,
        col("a.p_brand") === col("b.p_brand") &&
        col("a.p_partkey") < col("b.p_partkey"))
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name"), 3))
      .where(col("dist") >= 0 &&
        GraftFunctions.l1Diff(col("a.ch"), col("b.ch")) > 6)
      .count()
    assert(dropped === 0L,
      "L1 prefilter dropped a pair with levenshtein <= 3 — the bound is broken")
    // And crafted adversarial edits around the clamp/multibyte edges:
    // multibyte substitution, transposition (2 edits), clamp saturation.
    val rows = Seq(
      ("abcabcabc", "abcabxabc"),      // 1 substitution
      ("héllo wörld", "hello world"),  // 2 multibyte substitutions
      ("abcdef", "abdcef"),            // transposition = 2 edits
      ("a" * 200, "a" * 199 + "b"),    // clamp saturation + 1 sub
      ("", "xyz"))                     // 3 inserts from empty
    import spark.implicits._
    val crafted = rows.toDF("x", "y")
      .select(levenshtein(col("x"), col("y")).as("dist"),
        GraftFunctions.l1Diff(
          GraftFunctions.charHist(col("x")),
          GraftFunctions.charHist(col("y"))).as("l1"))
      .where(col("l1") > lit(2) * col("dist"))
      .count()
    assert(crafted === 0L, "crafted edit pair violated l1 <= 2*dist")
  }

  test("l1_diff fails loudly on unequal lengths, naming both") {
    // Summing over the shorter input would silently drop the longer's
    // tail. The kernel is what interpreted eval and generated code both
    // call; the range query runs it through whole-stage codegen.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val e = intercept[IllegalArgumentException](HashKernels.l1Diff(
      new GenericArrayData(Array.fill[Byte](64)(1)),
      new GenericArrayData(Array.fill[Byte](63)(1))))
    assert(e.getMessage.contains("lengths 64 and 63"), e.getMessage)
    val c = col("id").cast("tinyint")
    val failed = intercept[Throwable](spark.range(4)
      .select(GraftFunctions.l1Diff(array(c, c, c), array(c, c))).collect())
    val msgs = Iterator.iterate(failed)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("lengths 3 and 2")), msgs.mkString(" | "))
    // Equal lengths still sum.
    val sums = spark.range(4)
      .select(GraftFunctions.l1Diff(array(c, c), array(lit(0).cast("tinyint"), c)))
      .collect().map(_.getLong(0)).toSeq
    assert(sums == Seq(0L, 1L, 2L, 3L))
  }

  test("q49 with the L1 prefilter == the same join without it") {
    // Result-identity pin for the r15 optimization: the prefilter is a
    // pure candidate prune, so removing it from the join condition must
    // change nothing downstream.
    val d = sfDir
    val p = spark.read.parquet(s"$d/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    val a = p.as("a"); val b = p.as("b")
    val ref = a.join(b,
        col("a.p_brand") === col("b.p_brand") &&
        col("a.p_partkey") < col("b.p_partkey") &&
        abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 3)
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name"), 3).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a.p_partkey").as("pk_a"), col("b.p_partkey").as("pk_b"),
        col("a.p_brand").as("brand"), col("dist"))
    val opt = graft.SparkEntry.queries("q49_edit_distance")(spark, d)
    assert(opt.exceptAll(ref).isEmpty && ref.exceptAll(opt).isEmpty,
      "prefiltered q49 diverged from the unprefiltered formulation")
    assert(opt.count() === ref.count())
  }

  test("adc_dot == the aggregate/element_at HOF spelling, bit-exact") {
    // The r13 ADC kernel replaced the interpreted HOF on every PQ serve
    // path; this pins that the swap changed no arithmetic. 200 synthetic
    // (lut[512], codes[8] in [0,64)) rows.
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(511)),
        i => sin(i * (col("id") + 1))).as("lut"),
      transform(sequence(lit(0), lit(7)),
        m => pmod(m * (col("id") + 3) + col("id"), lit(64)).cast("int")).as("codes"))
    val mismatch = df.select(
        GraftFunctions.adcDot(col("lut"), col("codes"), 64).as("fast"),
        aggregate(sequence(lit(0), lit(7)), lit(0.0),
          (acc, m) => acc + element_at(col("lut"),
            m * lit(64) + element_at(col("codes"), m + lit(1)) + lit(1))).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("pq_lut == the collected serve's driver-side LUT loop, bit-exact") {
    val kpq = 4
    val sub = 8
    val cbFlat: Array[Double] =
      Array.tabulate(2 * kpq * sub)(i => math.sin(i * 0.37 + 1.0))
    val rows = spark.range(50)
      .select(col("id"),
        transform(sequence(lit(0), lit(2 * sub - 1)),
          j => cos(j * (col("id") + 2))).as("pe"))
      .select(col("pe"),
        GraftFunctions.pqLut(col("pe"), lit(cbFlat), kpq, sub).as("lut"))
      .collect()
    rows.foreach { r =>
      val pe = r.getSeq[Double](0)
      val got = r.getSeq[Double](1)
      // A plain j-ascending driver loop: the summation order the kernel must keep.
      val want = for (m <- 0 until pe.length / sub; code <- 0 until kpq) yield {
        val base = (m * kpq + code) * sub
        var acc = 0.0; var j = 0
        while (j < sub) { acc += pe(m * sub + j) * cbFlat(base + j); j += 1 }
        acc
      }
      assert(got == want, s"pq_lut diverged from the driver loop")
    }
  }

  test("pq_lut/adc_dot generated code COMPILES (no interpreted fallback)") {
    // r16: a generated line STARTING with '||' lost a pipe to Spark's
    // Block margin re-stripping, producing unparseable Java — and
    // because UnsafeProjection falls back to interpreted eval on compile
    // failure, every pq_lut-bearing projection (the distributed serve's
    // per-routed-row LUT among them) silently ran interpreted: one
    // bench run logged 1358 'Failed to compile' errors with no test red.
    // GenerateUnsafeProjection.generate THROWS where production falls
    // back, so this pins compilability itself.
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val pe = BoundReference(0, ArrayType(DoubleType, true), true)
    val codes = BoundReference(1, ArrayType(IntegerType, true), true)
    val cb = Literal.create(Array.tabulate(8 * 64 * 8)(_.toDouble),
      ArrayType(DoubleType, false))
    val lut = PqLutExpr(pe, cb, 64, 8)
    val proj = GenerateUnsafeProjection.generate(
      Seq(lut, AdcDotExpr(lut, codes, 64)))
    assert(proj != null)
  }

  test("adc_dot and pq_lut return NULL on malformed inputs instead of reading out of bounds") {
    // Both are SQL-callable, so inputs outside the artifact invariants
    // can reach them; the element_at/HOF discipline is NULL, never a
    // read past the array (r13 review).
    val rows = spark.sql(
      """SELECT
        |  adc_dot(array(0.5D, 1.5D), array(0), 2)          AS ok,
        |  adc_dot(array(0.5D), array(1), 2)                AS lut_short,
        |  adc_dot(array(0.5D, 1.5D), array(2), 2)          AS code_high,
        |  adc_dot(array(0.5D, 1.5D), array(-1), 2)         AS code_neg,
        |  adc_dot(array(0.5D, 1.5D), array(CAST(NULL AS INT)), 2) AS code_null,
        |  pq_lut(array(1.0D, 2.0D), array(3.0D, 4.0D, 5.0D, 6.0D), 2, 1) AS lut_ok,
        |  pq_lut(array(1.0D, 2.0D, 3.0D), array(3.0D, 4.0D, 5.0D, 6.0D), 2, 2) AS pe_ragged,
        |  pq_lut(array(1.0D, 2.0D), array(3.0D), 2, 1)     AS cb_short,
        |  pq_lut(array(CAST(NULL AS DOUBLE)), array(3.0D, 4.0D), 2, 1) AS pe_null
        |""".stripMargin).collect().head
    assert(rows.getDouble(rows.fieldIndex("ok")) == 0.5)
    Seq("lut_short", "code_high", "code_neg", "code_null",
        "pe_ragged", "cb_short", "pe_null").foreach { c =>
      assert(rows.isNullAt(rows.fieldIndex(c)), s"$c must be NULL")
    }
    // lut_ok: m=2 subvectors of width 1 -> lut[m*2+c] = pe[m]*cb[m*2+c].
    assert(rows.getSeq[Double](rows.fieldIndex("lut_ok")) == Seq(3.0, 4.0, 10.0, 12.0))
  }

  test("token_hashes == transform(tokens, xxhash64), bit-exact") {
    val mismatch = docs
      .select(
        GraftFunctions.tokenHashes(col("tk")).as("fast"),
        transform(col("tk"), t => xxhash64(t)).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("count_in_set == size(filter(isInCollection)) on the corpus") {
    val stops = graft.ops.TextOps.enStopwords
    val mismatch = docs
      .select(
        GraftFunctions.countInSet(col("tk"), typedLit(stops)).as("fast"),
        size(filter(col("tk"), t => t.isInCollection(stops))).cast("long").as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(mismatch === 0L)
  }

  test("token_hashes and count_in_set tolerate null array elements like their HOF spellings") {
    // Both kernels are SQL-registered, so containsNull=true inputs can
    // reach them: a null token must hash to the seed (as xxhash64 does)
    // and must never count as a set member (NULL-in predicate is UNKNOWN).
    val withNulls = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b') AS tk, " +
        "array('a', CAST(NULL AS STRING)) AS st")
    val row = withNulls
      .select(
        GraftFunctions.tokenHashes(col("tk")).as("fast"),
        transform(col("tk"), t => xxhash64(t)).as("ref"),
        GraftFunctions.countInSet(col("tk"), col("st")).as("cnt"))
      .collect()(0)
    assert(row.getSeq[Long](0) == row.getSeq[Long](1),
      "null elements must hash exactly like built-in xxhash64")
    assert(row.getLong(2) == 1L, "only the non-null member 'a' may count")
  }

  test("ngram_repetition == [size, size - distinct-size] of the HOF grams") {
    val tkGrams = when(size(col("tk")) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("tk")) - 3),
        i => array_join(slice(col("tk"), i + 1, lit(3)), " ")))
    val mismatch = docs
      .select(
        GraftFunctions.ngramRepetition(col("tk"), 3).as("fast"),
        array(size(tkGrams).cast("long"),
          (size(tkGrams) - size(array_distinct(tkGrams))).cast("long")).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("ngram_shingle_hashes == elementwise xxhash64 of ngram_shingles") {
    val mismatch = docs
      .select(
        GraftFunctions.ngramShingleHashes(col("tk"), 3).as("fast"),
        transform(GraftFunctions.ngramShingles(col("tk"), 3),
          s => xxhash64(s)).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("minhash over hashed shingles is bit-identical to minhash over strings") {
    // The long-input kernels skip re-hashing: their input IS the string
    // hash MinHash folds first, so signatures and band hashes agree
    // exactly — the property that lets the dedup pipeline run on 8-byte
    // keys while the spec ground truth stays on strings.
    val both = docs.select(
        GraftFunctions.ngramShingles(col("tk"), 3).as("sh"),
        GraftFunctions.ngramShingleHashes(col("tk"), 3).as("hh"))
      .where(size(col("sh")) > 0)
    val mismatch = both.select(
        GraftFunctions.minhashSignature(col("sh"), 32).as("sigS"),
        GraftFunctions.minhashSignature(col("hh"), 32).as("sigL"),
        GraftFunctions.minhashBands(col("sh"), 32, 8).as("bandS"),
        GraftFunctions.minhashBands(col("hh"), 32, 8).as("bandL"))
      .where(not(col("sigS") === col("sigL")) || not(col("bandS") === col("bandL")))
      .count()
    assert(mismatch === 0L)
  }

  test("intersect_count over hashed sets == over string sets on corpus pairs") {
    val sh = docs.select(col("doc_id"),
        GraftFunctions.ngramShingles(col("tk"), 3).as("sh"),
        GraftFunctions.ngramShingleHashes(col("tk"), 3).as("hh"))
      .where(size(col("sh")) > 0)
      .limit(60)
    val a = sh.as("a")
    val b = sh.as("b")
    val mismatch = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        GraftFunctions.intersectCount(col("a.hh"), col("b.hh")).as("long"),
        GraftFunctions.intersectCount(col("a.sh"), col("b.sh")).as("str"))
      .where(col("long") =!= col("str"))
      .count()
    assert(mismatch === 0L)
  }

  test("ngram_shingles == array_distinct(transform(...)) on the corpus") {
    val mismatch = docs
      .select(
        GraftFunctions.ngramShingles(col("tk"), 3).as("fast"),
        Dedup.shinglesFromTokens(col("tk")).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("simhash64 kernel == 64-HOF bit-majority formulation") {
    val mismatch = docs
      .select(
        GraftFunctions.simhash64(col("tk")).as("fast"),
        Dedup.simhash64Hof(col("tk")).as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(mismatch === 0L)
  }

  test("minhash_signature kernel == HOF min-of-xxhash64 formulation") {
    val sh = docs.select(GraftFunctions.ngramShingles(col("tk"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val mismatch = sh
      .select(
        GraftFunctions.minhashSignature(col("sh"), 32).as("fast"),
        Dedup.minhashSignature(col("sh"), 32).as("ref"))
      .where(not(col("fast") === col("ref")))
      .count()
    assert(mismatch === 0L)
  }

  test("minhash_bands == per-band xxhash64 fold over minhash_signature") {
    // Reference: band b = fold of XXH64.hashLong over its `rows`
    // consecutive signature elements, seeded with hashInt(b, 42) — the
    // banding q22b's candidate join keys on. Recomputed driver-side from
    // the (already HOF-verified) signature kernel's output.
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val k = 32
    val bands = 8
    val rows = k / bands
    val got = docs.select(GraftFunctions.ngramShingles(col("tk"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .select(
        GraftFunctions.minhashSignature(col("sh"), k).as("sig"),
        GraftFunctions.minhashBands(col("sh"), k, bands).as("bh"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val sig = r.getSeq[Long](0)
      val bh = r.getSeq[Long](1)
      assert(bh.length === bands)
      (0 until bands).foreach { b =>
        var h = XXH64.hashInt(b, 42L)
        (0 until rows).foreach(rr => h = XXH64.hashLong(sig(b * rows + rr), h))
        assert(bh(b) === h, s"band $b")
      }
    }
  }

  test("intersect_count == size(array_intersect) on shingle-set pairs") {
    val sh = docs.select(col("doc_id"),
        GraftFunctions.ngramShingles(col("tk"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .limit(60)
    val a = sh.as("a")
    val b = sh.as("b")
    val mismatch = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        GraftFunctions.intersectCount(col("a.sh"), col("b.sh")).as("fast"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(mismatch === 0L)
  }

  test("dot_product kernel == aggregate/zip_with HOF, bit-exact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val probe = emb.limit(1).select(col("e").as("pe"))
    val mismatch = emb.crossJoin(broadcast(probe))
      .select(
        GraftFunctions.dotProduct(col("e"), col("pe")).as("fast"),
        graft.ops.Similarity.dot(col("e"), col("pe")).as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(mismatch === 0L)
  }

  test("kernels handle empty and short inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]()),
      (2L, Seq("one")),
      (3L, Seq("one", "two")),
      (4L, Seq("a", "b", "c"))
    ).toDF("id", "tk")
    val got = df.select(col("id"),
        GraftFunctions.ngramShingles(col("tk"), 3).as("sh"),
        GraftFunctions.simhash64(col("tk")).as("fp"))
      .withColumn("sig", GraftFunctions.minhashSignature(col("sh"), 4))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2), r.getSeq[Long](3)))
      .toMap
    assert(got(1L)._1.isEmpty && got(2L)._1.isEmpty && got(3L)._1.isEmpty)
    assert(got(4L)._1 === Seq("a b c"))
    assert(got(1L)._2 === 0L, "simhash of empty token set is 0")
    assert(got(1L)._3 === Seq(0L, 0L, 0L, 0L), "minhash of empty set is zero signature")
  }
}
