package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, ShortType}

/** Native Catalyst expressions for the PQ kernels (ref semantics:
  * py/pq.py:242-349). The codebook rides along as a flat `double[]`
  * reference object — (M, K, D') row-major, `(mi*K + ki)*D' + j` — so the
  * kernels index primitives directly: no per-row `Seq` boxing, no
  * broadcast dereference per row, and the whole projection stays inside
  * whole-stage codegen. Spark ships the task binary (expression tree
  * included) via its own torrent broadcast, so a codebook-sized array in
  * the plan costs one broadcast per stage — same wire cost as an explicit
  * `Broadcast[PQModel]`, without leaving codegen.
  *
  * One kernel per expression: each loop is written once, as a static
  * method of [[PQKernels]] over `ArrayData`. `nullSafeEval` calls it, and
  * `doGenCode` emits one call to it with the codebook reference, so
  * interpreted eval and generated code run the same arithmetic and the
  * same checks by construction.
  *
  * Accumulation orders are part of the observable contract (oracle queries
  * hash results at 6 decimals); ONE order is used engine-wide, pinned by
  * PQExpressionsSpec's bit-equality cases against [[graft.operators.PQModel]]:
  *  - encode: per-subspace argmin, first-lowest-index tie-break
  *    (py/pq.py:242-274) — integer output, no FP ambiguity.
  *  - sdc: one running sum across all D dimensions in (subspace, dim)
  *    order — identical to l2²(decode(a), decode(b)) summed left-to-right,
  *    exactly like [[graft.operators.PQModel.sdc]].
  *  - adc: per-subspace partial sums added in subspace order — the ONLY
  *    order under which the lookup-table path ([[PQLutExpr]] +
  *    [[PQAdcLutExpr]], the reference's batch tactic,
  *    py/PRODUCT_QUANTIZATION.md:157-169) is bit-identical to the direct
  *    path ([[PQAdcExpr]]); [[graft.operators.PQModel.adc]] uses the same
  *    order.
  *
  * Every expression validates input types at analysis time
  * (`checkInputDataTypes`); every kernel validates array lengths and code
  * values at runtime — a wrong-length vector or a code outside 0..K-1
  * raises a descriptive error instead of an out-of-bounds Unsafe read
  * (getDouble past numElements is undefined memory, not an exception) or
  * a silent read of another subspace's centroid.
  */
trait PQModelExpression {
  def flat: Array[Double]
  def m: Int
  def k: Int
  def dp: Int

  /** Register the flat codebook once per generated class. */
  protected def cbRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("pqCodebook", flat, "double[]")
}

private[graft] object PQCheck {
  def requireLen(a: ArrayData, expected: Int, what: String, name: String): Unit =
    if (a.numElements() != expected)
      throw new IllegalArgumentException(
        s"$name: expected $what of length $expected, got ${a.numElements()}")

  /** Code `c(mi)`, checked to lie in 0 until k. */
  def code(c: ArrayData, mi: Int, k: Int, name: String): Int =
    inRange(c.getShort(mi).toInt, mi, k, name)

  /** [[code]] over a primitive code array; `name` is built only on failure. */
  def code(c: Array[Short], mi: Int, k: Int, name: () => String): Int = {
    val v = c(mi).toInt
    if (v < 0 || v >= k) inRange(v, mi, k, name()) else v
  }

  private def inRange(v: Int, mi: Int, k: Int, name: String): Int = {
    if (v < 0 || v >= k)
      throw new IllegalArgumentException(
        s"$name: code $v out of range for k=$k (subspace $mi)")
    v
  }

  def vecType(dt: DataType, name: String, side: String = "input"): TypeCheckResult =
    dt match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<double> $side, got ${other.catalogString}")
    }

  def codeType(dt: DataType, name: String, side: String = "input"): TypeCheckResult =
    dt match {
      case ArrayType(ShortType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<smallint> $side, got ${other.catalogString}")
    }
}

/** The PQ kernels shared by interpreted eval and generated code; `flat`
  * is the (M, K, D') codebook of [[PQModelExpression]]. */
object PQKernels {
  import PQCheck.{code, requireLen}

  private[functions] val Name = "graft.functions.PQKernels"

  def encode(flat: Array[Double], m: Int, k: Int, dp: Int, v: ArrayData): ArrayData = {
    requireLen(v, m * dp, "vector", "pq_encode_native")
    val out = new Array[Short](m)
    var mi = 0
    while (mi < m) {
      val off = mi * dp
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < k) {
        val coff = (mi * k + ki) * dp
        var s = 0.0
        var j = 0
        while (j < dp) { val d = v.getDouble(off + j) - flat(coff + j); s += d * d; j += 1 }
        if (s < bestD) { bestD = s; best = ki }
        ki += 1
      }
      out(mi) = best.toShort
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def decode(flat: Array[Double], m: Int, k: Int, dp: Int, c: ArrayData): ArrayData = {
    requireLen(c, m, "code", "pq_decode_native")
    val out = new Array[Double](m * dp)
    var mi = 0
    while (mi < m) {
      val coff = (mi * k + code(c, mi, k, "pq_decode_native")) * dp
      var j = 0
      while (j < dp) { out(mi * dp + j) = flat(coff + j); j += 1 }
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def adc(flat: Array[Double], m: Int, k: Int, dp: Int, v: ArrayData, c: ArrayData): Double = {
    requireLen(v, m * dp, "query vector", "pq_adc_native")
    requireLen(c, m, "code", "pq_adc_native")
    var s = 0.0
    var mi = 0
    while (mi < m) {
      val coff = (mi * k + code(c, mi, k, "pq_adc_native")) * dp
      val off = mi * dp
      var sub = 0.0
      var j = 0
      while (j < dp) { val d = v.getDouble(off + j) - flat(coff + j); sub += d * d; j += 1 }
      s += sub
      mi += 1
    }
    s
  }

  def sdc(flat: Array[Double], m: Int, k: Int, dp: Int, x: ArrayData, y: ArrayData): Double = {
    requireLen(x, m, "code", "pq_sdc_native")
    requireLen(y, m, "code", "pq_sdc_native")
    var s = 0.0
    var mi = 0
    while (mi < m) {
      val ca = (mi * k + code(x, mi, k, "pq_sdc_native")) * dp
      val cb = (mi * k + code(y, mi, k, "pq_sdc_native")) * dp
      var j = 0
      while (j < dp) { val d = flat(ca + j) - flat(cb + j); s += d * d; j += 1 }
      mi += 1
    }
    s
  }

  def lut(flat: Array[Double], m: Int, k: Int, dp: Int, v: ArrayData): ArrayData = {
    requireLen(v, m * dp, "query vector", "pq_adc_lut")
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      val off = mi * dp
      var ki = 0
      while (ki < k) {
        val coff = (mi * k + ki) * dp
        var s = 0.0
        var j = 0
        while (j < dp) { val d = v.getDouble(off + j) - flat(coff + j); s += d * d; j += 1 }
        out(mi * k + ki) = s
        ki += 1
      }
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def adcFromLut(m: Int, k: Int, lut: ArrayData, c: ArrayData): Double = {
    requireLen(lut, m * k, "lut", "pq_adc_from_lut")
    requireLen(c, m, "code", "pq_adc_from_lut")
    var s = 0.0
    var mi = 0
    while (mi < m) { s += lut.getDouble(mi * k + code(c, mi, k, "pq_adc_from_lut")); mi += 1 }
    s
  }
}

/** PQ encode: array<double> vector -> array<short> code (one per subspace). */
case class PQEncodeExpr(child: Expression, flat: Array[Double], m: Int, k: Int, dp: Int)
    extends UnaryExpression with PQModelExpression {

  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def prettyName: String = "pq_encode_native"

  override def checkInputDataTypes(): TypeCheckResult =
    PQCheck.vecType(child.dataType, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    PQKernels.encode(flat, m, k, dp, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"${PQKernels.Name}.encode(${cbRef(ctx)}, $m, $k, $dp, $a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ decode: array<short> code -> reconstructed array<double> vector. */
case class PQDecodeExpr(child: Expression, flat: Array[Double], m: Int, k: Int, dp: Int)
    extends UnaryExpression with PQModelExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_decode_native"

  override def checkInputDataTypes(): TypeCheckResult =
    PQCheck.codeType(child.dataType, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    PQKernels.decode(flat, m, k, dp, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"${PQKernels.Name}.decode(${cbRef(ctx)}, $m, $k, $dp, $a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric distance: raw array<double> query vs array<short> code.
  * Per-subspace partial sums, added in subspace order (see file doc).
  */
case class PQAdcExpr(left: Expression, right: Expression,
                     flat: Array[Double], m: Int, k: Int, dp: Int)
    extends BinaryExpression with PQModelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = PQCheck.vecType(left.dataType, prettyName, "query (left)")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else PQCheck.codeType(right.dataType, prettyName, "code (right)")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PQKernels.adc(flat, m, k, dp, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${PQKernels.Name}.adc(${cbRef(ctx)}, $m, $k, $dp, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Symmetric distance: code vs code through centroids. One running sum in
  * dimension order — exactly [[graft.operators.PQModel.sdc]]'s accumulation.
  */
case class PQSdcExpr(left: Expression, right: Expression,
                     flat: Array[Double], m: Int, k: Int, dp: Int)
    extends BinaryExpression with PQModelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_sdc_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = PQCheck.codeType(left.dataType, prettyName, "code (left)")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else PQCheck.codeType(right.dataType, prettyName, "code (right)")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PQKernels.sdc(flat, m, k, dp, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${PQKernels.Name}.sdc(${cbRef(ctx)}, $m, $k, $dp, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-query ADC lookup table (the reference's batch tactic,
  * py/PRODUCT_QUANTIZATION.md:157-169): array<double> of length M*K where
  * `lut[mi*K + ki]` = L2² between the query's subspace-mi slice and
  * codebook centroid (mi, ki). Computed ONCE per query row; each
  * query-code distance then costs M array lookups ([[PQAdcLutExpr]])
  * instead of M*D' multiply-adds — the win when one query scans many codes.
  * Each cell uses the same per-subspace accumulation as [[PQAdcExpr]], so
  * LUT distances are bit-identical to direct ADC.
  */
case class PQLutExpr(child: Expression, flat: Array[Double], m: Int, k: Int, dp: Int)
    extends UnaryExpression with PQModelExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_lut"

  override def checkInputDataTypes(): TypeCheckResult =
    PQCheck.vecType(child.dataType, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    PQKernels.lut(flat, m, k, dp, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"${PQKernels.Name}.lut(${cbRef(ctx)}, $m, $k, $dp, $a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC via a precomputed lookup table: sum over subspaces of
  * `lut[mi*K + code[mi]]` — M lookups per distance, no codebook access.
  * Bit-identical to [[PQAdcExpr]] on the same (query, code) pair.
  */
case class PQAdcLutExpr(left: Expression, right: Expression, m: Int, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_from_lut"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = PQCheck.vecType(left.dataType, prettyName, "lut (left)")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else PQCheck.codeType(right.dataType, prettyName, "code (right)")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PQKernels.adcFromLut(m, k, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${PQKernels.Name}.adcFromLut($m, $k, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
