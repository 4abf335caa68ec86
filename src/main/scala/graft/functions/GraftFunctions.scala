package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{call_function, lit}

/** graft's custom Catalyst expressions: their names and builders, and
  * the Column API over them.
  *
  * Every session gets them when it is built: [[GraftSparkExtensions]] is
  * a `SparkSessionExtensionsProvider` listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's ServiceLoader injects the full [[builders]] table into the
  * engine's sessions, their `newSession()` clones and sessions built
  * outside the engine alike, with no conf. Naming the same class in
  * `spark.sql.extensions` is still accepted.
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  /** (name, expression class, builder): the one table the extension
    * injects, and the names the Column API below calls.
    */
  private[functions] val builders
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))),
    ("simhash64", classOf[SimHash64Expr],
      exprs => SimHash64Expr(exprs(0))),
    ("minhash_signature", classOf[MinHashSignatureExpr],
      exprs => MinHashSignatureExpr(exprs(0), intArg(exprs(1), "minhash_signature"))),
    ("minhash_bands", classOf[MinHashBandsExpr],
      exprs => MinHashBandsExpr(exprs(0), intArg(exprs(1), "minhash_bands"),
        intArg(exprs(2), "minhash_bands"))),
    ("ngram_shingles", classOf[NgramShinglesExpr],
      exprs => NgramShinglesExpr(exprs(0), intArg(exprs(1), "ngram_shingles"))),
    ("ngram_shingle_hashes", classOf[NgramShingleHashesExpr],
      exprs => NgramShingleHashesExpr(exprs(0), intArg(exprs(1), "ngram_shingle_hashes"))),
    ("ngram_repetition", classOf[NgramRepetitionExpr],
      exprs => NgramRepetitionExpr(exprs(0), intArg(exprs(1), "ngram_repetition"))),
    ("token_hashes", classOf[TokenHashesExpr],
      exprs => TokenHashesExpr(exprs(0))),
    ("adc_dot", classOf[AdcDotExpr],
      exprs => AdcDotExpr(exprs(0), exprs(1), intArg(exprs(2), "adc_dot"))),
    ("pq_lut", classOf[PqLutExpr],
      exprs => PqLutExpr(exprs(0), exprs(1), intArg(exprs(2), "pq_lut"),
        intArg(exprs(3), "pq_lut"))),
    ("count_in_set", classOf[CountInSet],
      exprs => CountInSet(exprs(0), exprs(1))),
    ("intersect_count", classOf[IntersectCount],
      exprs => IntersectCount(exprs(0), exprs(1))),
    ("char_hist", classOf[CharHistExpr],
      exprs => CharHistExpr(exprs(0))),
    ("l1_diff", classOf[L1Diff],
      exprs => L1Diff(exprs(0), exprs(1))),
    // Spark's own runtime-filter expressions, exposed by name so a query
    // can build the bloom-pruned anti-join shape EXPLICITLY where the
    // optimizer's InjectRuntimeFilter can't (it never fires for anti
    // joins — a bloom-negative row there is a guaranteed KEEP, not a
    // guaranteed drop, so the rewrite is a routing decision the query
    // has to make itself; see Dedup.q65). Both are codegen'd catalyst
    // expressions (BloomFilterAggregate builds partial blooms per
    // partition and ORs them in the merge — one pass, no shuffle of the
    // input side beyond the agg's own exchange).
    ("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      exprs =>
        if (exprs.size >= 2)
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            exprs(0),
            // The aggregate requires a BIGINT estimate; accept the bare
            // integer literal a SQL call site naturally writes.
            org.apache.spark.sql.catalyst.expressions.Cast(
              exprs(1), org.apache.spark.sql.types.LongType))
        else
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            exprs(0))),
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))))

  /** Column API: cosine similarity of two array<double> columns. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Column API: left-to-right dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Column API: 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** Column API: k-element MinHash signature of an array<string> column. */
  def minhashSignature(shingles: Column, k: Int): Column =
    call_function("minhash_signature", shingles, lit(k))

  /** Column API: LSH band hashes over the k-hash MinHash signature. */
  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    call_function("minhash_bands", shingles, lit(k), lit(bands))

  /** Column API: distinct word n-gram shingles of an array<string> column. */
  def ngramShingles(tokens: Column, n: Int): Column =
    call_function("ngram_shingles", tokens, lit(n))

  /** Column API: distinct xxhash64(n-gram shingle) longs — the at-scale
    * shingle key (8-byte fixed-width; see HashKernels scaladoc).
    */
  def ngramShingleHashes(tokens: Column, n: Int): Column =
    call_function("ngram_shingle_hashes", tokens, lit(n))

  /** Column API: [total, repeated] n-gram counts of an array<string>. */
  def ngramRepetition(tokens: Column, n: Int): Column =
    call_function("ngram_repetition", tokens, lit(n))

  /** Column API: xxhash64 of each token. */
  def tokenHashes(tokens: Column): Column = call_function("token_hashes", tokens)

  /** Column API: per-candidate ADC lookup sum — Σ_m lut[m*kpq+codes[m]]. */
  def adcDot(lut: Column, codes: Column, kpq: Int): Column =
    call_function("adc_dot", lut, codes, lit(kpq))

  /** Column API: the probe's flat M×K ADC lookup table against a flat
    * codebook literal.
    */
  def pqLut(pe: Column, cbFlat: Column, kpq: Int, sub: Int): Column =
    call_function("pq_lut", pe, cbFlat, lit(kpq), lit(sub))

  /** Column API: count of tokens appearing in the (small) set column. */
  def countInSet(tokens: Column, set: Column): Column =
    call_function("count_in_set", tokens, set)

  /** Column API: |A ∩ B| of two array<string> columns (set semantics). */
  def intersectCount(a: Column, b: Column): Column =
    call_function("intersect_count", a, b)

  /** Column API: 64-bucket clamped lead-byte histogram of a string (the
    * q49 edit-distance prefilter's per-row precompute).
    */
  def charHist(s: Column): Column = call_function("char_hist", s)

  /** Column API: Σ|a_i − b_i| over two array<tinyint> histograms. */
  def l1Diff(a: Column, b: Column): Column = call_function("l1_diff", a, b)
}

/** Injects every graft function (the full `builders` surface) into every
  * session as it is built. Spark finds it through the ServiceLoader (see
  * [[GraftFunctions]]); session-level rules belong in `apply` too.
  */
class GraftSparkExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
