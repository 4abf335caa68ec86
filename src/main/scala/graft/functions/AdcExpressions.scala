package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Codegen'd ADC (asymmetric distance computation) kernels for the PQ
  * serve paths.
  *
  * The HOF formulation (`aggregate(sequence(0, M-1), 0.0, (acc, m) =>
  * acc + element_at(lut, m*K + codes[m] + 1))`) is correct but
  * interpreted: higher-order functions sit outside whole-stage codegen
  * and allocate a lambda frame per element, and the ADC dot is THE
  * per-candidate inner loop of the composed serve (q111/q112/q130-q132/
  * q134) — millions of evaluations per probe batch.
  * These expressions compile to tight fused loops, the
  * [[CosineSimilarity]] discipline applied to the quantized kernels.
  *
  * Numerics match the HOF formulation exactly (ascending-index IEEE
  * double accumulation), so swapping them in changes no serve result.
  * Both kernels are SQL-registered, so malformed inputs can reach them
  * outside the artifact invariants: out-of-range codes, null elements
  * and undersized tables return NULL (the HOF/element_at discipline)
  * instead of reading past the array.
  */

/** qdot = Σ_m lut[m*kpq + codes[m]] — the per-candidate ADC lookup sum.
  * `lut` is the probe's flat M×K table ([[PqLutExpr]]), `codes` the
  * candidate's array<int> PQ codes.
  */
case class AdcDotExpr(left: Expression, right: Expression, kpq: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_dot requires (array<double>, array<int>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (lut.numElements() < m.toLong * kpq) return null
    var q = 0.0
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i)) return null
      val c = codes.getInt(i)
      if (c < 0 || c >= kpq) return null
      q += lut.getDouble(i * kpq + c)
      i += 1
    }
    q
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val q = ctx.freshName("q")
      val c = ctx.freshName("c")
      val bad = ctx.freshName("bad")
      s"""
         |int $m = $codes.numElements();
         |double $q = 0.0;
         |boolean $bad = $lut.numElements() < (long) $m * $kpq;
         |for (int $i = 0; !$bad && $i < $m; $i++) {
         |  if ($codes.isNullAt($i)) { $bad = true; break; }
         |  int $c = $codes.getInt($i);
         |  if ($c < 0 || $c >= $kpq) { $bad = true; break; }
         |  $q += $lut.getDouble($i * $kpq + $c);
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $q; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The probe's flat ADC lookup table as one fused kernel:
  * lut[m*kpq + c] = dot(pe[m*sub .. m*sub+sub), cbflat[(m*kpq+c)*sub ..))
  * — the composed serve's O(M·K·sub) table, computed row-parallel with
  * j-ascending summation (the codebook rides as a flat array<double>
  * literal). NULL when the codebook is undersized
  * for pe's dimensionality, when pe is not a whole number of subvectors,
  * or when either array has a null element.
  */
case class PqLutExpr(left: Expression, right: Expression, kpq: Int, sub: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_lut requires (array<double>, array<double>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val pe = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val dim = pe.numElements()
    val m = dim / sub
    if (dim % sub != 0 || cb.numElements() < m.toLong * kpq * sub) return null
    var i = 0
    while (i < dim) { if (pe.isNullAt(i)) return null; i += 1 }
    i = 0
    val nCb = m * kpq * sub
    while (i < nCb) { if (cb.isNullAt(i)) return null; i += 1 }
    val out = new Array[Double](m * kpq)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      var c = 0
      while (c < kpq) {
        val base = (mi * kpq + c) * sub
        var acc = 0.0
        var j = 0
        while (j < sub) { acc += pe.getDouble(off + j) * cb.getDouble(base + j); j += 1 }
        out(mi * kpq + c) = acc
        c += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pe, cb) => {
      val dim = ctx.freshName("dim")
      val m = ctx.freshName("m")
      val mi = ctx.freshName("mi")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      val bad = ctx.freshName("bad")
      val chk = ctx.freshName("chk")
      s"""
         |int $dim = $pe.numElements();
         |int $m = $dim / $sub;
         |boolean $bad = ($dim % $sub != 0) ||
         |  $cb.numElements() < (long) $m * $kpq * $sub;
         |for (int $chk = 0; !$bad && $chk < $dim; $chk++) {
         |  if ($pe.isNullAt($chk)) $bad = true;
         |}
         |for (int $chk = 0; !$bad && $chk < $m * $kpq * $sub; $chk++) {
         |  if ($cb.isNullAt($chk)) $bad = true;
         |}
         |if ($bad) { ${ev.isNull} = true; } else {
         |  double[] $out = new double[$m * $kpq];
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    int $off = $mi * $sub;
         |    for (int $c = 0; $c < $kpq; $c++) {
         |      int $base = ($mi * $kpq + $c) * $sub;
         |      double $acc = 0.0;
         |      for (int $j = 0; $j < $sub; $j++) {
         |        $acc += $pe.getDouble($off + $j) * $cb.getDouble($base + $j);
         |      }
         |      $out[$mi * $kpq + $c] = $acc;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
