package graft.functions

import java.util.LinkedHashSet

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM kernels behind graft's text/vector fingerprint
  * expressions. Each kernel is one static, monomorphic method call from
  * generated code — the whole point: the higher-order-function
  * formulations they replace are evaluated on Catalyst's interpreted
  * `Expression.eval` path, whose megamorphic call sites degrade 10-40×
  * run-dependently once a long-lived JVM has executed many different
  * expression trees (measured in round 1: the 64 per-bit `filter` HOFs of
  * SimHash went from 8 s to 104 s under the driver's bench). A static
  * kernel inside whole-stage codegen is immune: the JIT sees one hot
  * receiver and compiles a tight loop.
  *
  * Hash arithmetic is bit-identical to the built-ins they replace
  * (`xxhash64(x)` = XXH64(seed 42); `xxhash64(x, h)` folds the first hash
  * as the seed of the second), so the Dedup specs can assert equality
  * against the original HOF formulations.
  */
object HashKernels {

  private final val Seed = 42L

  /** xxhash64(token) with Spark's default seed. */
  @inline private def h1(s: UTF8String): Long = XXH64.hashUTF8String(s, Seed)

  /** 64-bit SimHash over the token array: bit b set iff the majority of
    * token hashes have bit b set. One pass, int[64] counters.
    */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = h1(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** MinHash signature: element h = min over shingles of
    * xxhash64(shingle, h) — the string hash folded as the seed of an INT
    * hash, exactly Spark's two-argument xxhash64 over (string, int):
    * `sequence()` lambda variables are IntegerType, so the built-in folds
    * with hashInt. One string hash per shingle, k int-folds per shingle —
    * O(n·k) longs, no allocation but the result.
    */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = h1(shingles.getUTF8String(i))
      var h = 0
      while (h < k) {
        val v = XXH64.hashInt(h, sh)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L) // empty set → zero signature
    new GenericArrayData(mins)
  }

  /** MinHash LSH band hashes, fused: computes the k-element signature
    * (exactly `minhashSignature`) and folds each band of `k / bands`
    * consecutive signature elements into one 64-bit band hash (xxhash64
    * fold seeded with the band index, so equal slices in different bands
    * cannot collide by construction). One kernel call per row replaces
    * signature + per-band `slice`+`xxhash64` expression trees — and with
    * a single producing expression, projection collapse cannot duplicate
    * the signature computation into each band's hash.
    */
  def minhashBands(shingles: ArrayData, k: Int, bands: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = h1(shingles.getUTF8String(i))
      var h = 0
      while (h < k) {
        val v = XXH64.hashInt(h, sh)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L)
    val rows = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bh = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rows) {
        bh = XXH64.hashLong(mins(b * rows + r), bh)
        r += 1
      }
      out(b) = bh
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Long-shingle variants: the 100 TB dedup pipeline keys candidate
    * generation on xxhash64(shingle) longs, never on shingle STRINGS —
    * an 8-byte fixed-width key persists/shuffles/joins ~3x lighter than
    * the text trigram it stands for and keeps the hot joins allocation-
    * free (measured: 16-20 s of task GC per dedup query at sf0.1 on the
    * string formulation). Collision risk is the standard Broder argument:
    * P(any collision among D distinct shingles) ≈ D²/2^65 — negligible
    * below ~10^8 distinct shingles per comparison universe.
    *
    * `sh = h1(shingle)` is exactly the hash MinHash folds first, so
    * minhash over hashed shingles is BIT-IDENTICAL to minhash over the
    * strings — HashKernelsSpec asserts it.
    */
  def minhashSignatureLong(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = hashes.getLong(i)
      var h = 0
      while (h < k) {
        val v = XXH64.hashInt(h, sh)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L)
    new GenericArrayData(mins)
  }

  /** Band hashes over hashed shingles — see `minhashBands`. */
  def minhashBandsLong(hashes: ArrayData, k: Int, bands: Int): ArrayData = {
    val mins = minhashSignatureLong(hashes, k)
    val rows = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bh = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rows) {
        bh = XXH64.hashLong(mins.getLong(b * rows + r), bh)
        r += 1
      }
      out(b) = bh
      b += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Distinct word n-gram shingles in first-occurrence order (the same
    * order/content as `array_distinct(transform(sequence(...),
    * array_join(slice(...))))`). Fewer than n tokens → empty set.
    */
  def ngramShingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(new Array[AnyRef](0))
    val seen = new LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct xxhash64(n-gram shingle) longs, first-occurrence order —
    * elementwise `h1` of `ngramShingles` (the n-gram string is built
    * transiently per window and hashed, never stored, so the per-doc
    * output is a primitive long array).
    */
  def ngramShingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(new Array[Long](0))
    val seen = new LinkedHashSet[java.lang.Long]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(h1(UTF8String.concatWs(Space, window: _*)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** [total n-grams, repeated n-grams] in one pass — the q45 repetition
    * measure. Distinctness is tracked via the gram's xxhash64 (same
    * collision argument as the hashed shingles: transient string, 8-byte
    * set entry).
    */
  def ngramRepetition(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array(0L, 0L))
    val seen = new java.util.HashSet[java.lang.Long]()
    val window = new Array[UTF8String](n)
    var total = 0L
    var i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(h1(UTF8String.concatWs(Space, window: _*))): Unit
      total += 1
      i += 1
    }
    new GenericArrayData(Array(total, total - seen.size))
  }

  /** xxhash64 of each token (Spark's default seed) — the codegen'd
    * spelling of `transform(tokens, t => xxhash64(t))`, whose lambda
    * runs on Catalyst's interpreted eval path.
    */
  def tokenHashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      // Null element: built-in xxhash64 returns the seed unchanged (its
      // null operand contributes nothing) — match it, don't NPE; both
      // spellings are SQL-registered and containsNull inputs can reach us.
      val t = tokens.getUTF8String(i)
      out(i) = if (t == null) Seed else h1(t)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements of `tokens` that appear in `set` (multiset
    * semantics on the left: each occurrence counts) — the codegen'd
    * spelling of `size(filter(tokens, _.isInCollection(set)))`.
    */
  def countInSet(tokens: ArrayData, set: ArrayData): Long = {
    val s = new java.util.HashSet[UTF8String](set.numElements() * 2)
    var i = 0
    val ns = set.numElements()
    while (i < ns) {
      val e = set.getUTF8String(i)
      if (e != null) s.add(e): Unit // null ∈ set is UNKNOWN in SQL — never matches
      i += 1
    }
    var cnt = 0L
    var j = 0
    val nt = tokens.numElements()
    while (j < nt) {
      // Null token: isInCollection yields NULL, filter drops it — skip,
      // matching the HOF spelling this kernel is documented bit-identical to.
      val t = tokens.getUTF8String(j)
      if (t != null && s.contains(t)) cnt += 1L
      j += 1
    }
    cnt
  }

  /** |A ∩ B| for two long arrays (set semantics). */
  def intersectCountLong(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[java.lang.Long](small.numElements() * 2)
    var i = 0
    val ns = small.numElements()
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var cnt = 0L
    var j = 0
    val nl = large.numElements()
    while (j < nl) {
      if (set.remove(large.getLong(j))) cnt += 1L
      j += 1
    }
    cnt
  }

  /** |A ∩ B| for two string arrays (set semantics: duplicates in either
    * input count once; graft shingle arrays are already distinct).
    * Replaces `size(array_intersect(a,b))`, whose interpreted OpenHashSet
    * build per candidate pair was a round-1 hot spot.
    */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    val ns = small.numElements()
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var cnt = 0L
    var j = 0
    val nl = large.numElements()
    while (j < nl) {
      if (set.remove(large.getUTF8String(j))) cnt += 1L
      j += 1
    }
    cnt
  }

  /** Left-to-right IEEE dot product — same accumulation order as the
    * `aggregate(zip_with(a,b,*),0.0,+)` HOF formulation.
    */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** 64-bucket character histogram over a string's UTF-8 LEAD bytes
    * (continuation bytes 0b10xxxxxx are skipped; bucket = lead byte
    * & 0x3f), each bucket clamped at 127 — the per-ROW precompute of
    * the q49 edit-distance prefilter. Soundness of the filter built on
    * it: one code-point edit (insert/delete/substitute — the unit
    * Spark's `levenshtein` counts) changes the code-point multiset by
    * at most one removal plus one addition; bucketing lead bytes is a
    * COARSENING of code-point identity (merging categories can only
    * shrink an L1 distance), and the clamp only ever under-estimates
    * (|min(x,127)−min(y,127)| ≤ |x−y|). Hence
    * `levenshtein(a,b) ≤ t  ⇒  l1Diff(charHist(a), charHist(b)) ≤ 2t`
    * — pairs failing the L1 test can be dropped without ever running
    * the O(len²/banded) DP, and no qualifying pair is lost.
    */
  def charHist(s: UTF8String): ArrayData = {
    val out = new Array[Byte](64)
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b & 0xC0) != 0x80) {
        val k = b & 0x3f
        if (out(k) != 127) out(k) = (out(k) + 1).toByte
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ|a_i − b_i| over two equal-length tinyint histograms ([[charHist]]
    * outputs are always 64 long). Unequal lengths throw, naming both:
    * summing over the shorter would silently drop the longer's tail.
    */
  def l1Diff(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"l1_diff needs equal-length histograms, got lengths $n and ${b.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getByte(i) - b.getByte(i)
      acc += (if (d < 0) -d else d)
      i += 1
    }
    acc
  }
}

private object TextHashes {
  def requireStringArray(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<string>, got ${other.simpleString}")
    }

  /** Shingle-set inputs come in two spellings: raw strings (spec ground
    * truth, oracle parity) or their xxhash64 longs (the at-scale key).
    */
  def requireShingleArray(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<string> or array<bigint>, got ${other.simpleString}")
    }

  def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
}

/** simhash64(tokens: array<string>) → long. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireStringArray(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_signature(shingles: array<string>|array<bigint>, k) →
  * array<long> (k-element). Long input = pre-hashed shingles; identical
  * output to the string spelling by construction.
  */
case class MinHashSignatureExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"minhash_signature needs k > 0, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireShingleArray(prettyName, child)

  private lazy val onLongs = TextHashes.isLongArray(child)

  override def nullSafeEval(input: Any): Any =
    if (onLongs) HashKernels.minhashSignatureLong(input.asInstanceOf[ArrayData], k)
    else HashKernels.minhashSignature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (onLongs) "minhashSignatureLong" else "minhashSignature"
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.$kernel($c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_bands(shingles: array<string>|array<bigint>, k, bands) →
  * array<long> (bands-element LSH band hashes over the k-hash MinHash
  * signature).
  */
case class MinHashBandsExpr(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {
  require(k > 0 && bands > 0 && k % bands == 0,
    s"minhash_bands needs k > 0 divisible by bands, got k=$k bands=$bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireShingleArray(prettyName, child)

  private lazy val onLongs = TextHashes.isLongArray(child)

  override def nullSafeEval(input: Any): Any =
    if (onLongs) HashKernels.minhashBandsLong(input.asInstanceOf[ArrayData], k, bands)
    else HashKernels.minhashBands(input.asInstanceOf[ArrayData], k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (onLongs) "minhashBandsLong" else "minhashBands"
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.$kernel($c, $k, $bands)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ngram_shingles(tokens: array<string>, n) → array<string>, distinct,
  * first-occurrence order.
  */
case class NgramShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"ngram_shingles needs n > 0, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_shingles"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireStringArray(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.ngramShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.ngramShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** intersect_count(a, b) → long, over two array<string> or two
  * array<bigint> shingle sets.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) => true
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_count requires two array<string> or two array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val onLongs = TextHashes.isLongArray(left)

  override def nullSafeEval(a: Any, b: Any): Any =
    if (onLongs)
      HashKernels.intersectCountLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      HashKernels.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (onLongs) "intersectCountLong" else "intersectCount"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.$kernel($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ngram_shingle_hashes(tokens: array<string>, n) → array<long> of
  * distinct xxhash64(n-gram) values, first-occurrence order — the
  * at-scale spelling of `ngram_shingles` (see HashKernels scaladoc for
  * the collision argument).
  */
case class NgramShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"ngram_shingle_hashes needs n > 0, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_shingle_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireStringArray(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.ngramShingleHashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.ngramShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** token_hashes(tokens: array<string>) → array<long> of xxhash64. */
case class TokenHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireStringArray(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tokenHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** count_in_set(tokens: array<string>, set: array<string>) → long. */
case class CountInSet(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_set"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count_in_set requires array<string> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.countInSet(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.countInSet($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ngram_repetition(tokens: array<string>, n) → array<long>
  * [total n-grams, repeated n-grams].
  */
case class NgramRepetitionExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"ngram_repetition needs n > 0, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_repetition"
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashes.requireStringArray(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    HashKernels.ngramRepetition(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.ngramRepetition($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** dot_product(a: array<double>, b: array<double>) → double. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotProduct($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** char_hist(s: string) → array<tinyint> (64 clamped UTF-8 lead-byte
  * buckets — the q49 edit-distance prefilter's per-row precompute; see
  * [[HashKernels.charHist]] for the soundness argument).
  */
case class CharHistExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "char_hist"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"char_hist requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashKernels.charHist(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charHist($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** l1_diff(a, b) → long, Σ|a_i − b_i| over two array<tinyint>
  * histograms ([[CharHistExpr]] outputs).
  *
  * LENGTH CONTRACT (r15 ADVICE): both inputs must have one length —
  * unequal lengths fail the query with an IllegalArgumentException
  * naming both, in interpreted and generated code alike (both call
  * [[HashKernels.l1Diff]]). The only producer ([[CharHistExpr]]) always
  * emits 64 buckets; callers registering their own histograms on this
  * public SQL surface must pad both sides to one length.
  */
case class L1Diff(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "l1_diff"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"l1_diff requires two array<tinyint> inputs, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.l1Diff(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.l1Diff($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
