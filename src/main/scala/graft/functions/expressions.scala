package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the vector distance kernels (SURVEY.md
  * §2.H): tight primitive loops over `ArrayData`, no per-pair array
  * allocation. Semantically identical to the `aggregate(zip_with(...))`
  * formulations in [[VectorFunctions]] (double accumulation in array
  * order — ref: py/bruteforce.py:5-9), just faster: the zip_with path
  * materializes an intermediate array per row pair; these don't.
  *
  * One kernel per expression: each loop is written once, as a static
  * method of [[VectorKernels]]. `nullSafeEval` calls it, and `doGenCode`
  * emits one call to it, so interpreted eval (e.g. `TopKAgg.update`) and
  * whole-stage codegen run the same arithmetic by construction. The only
  * logic in a template is the MaxSim empty-right-bag NULL test.
  *
  * SQL-surface contract (`graft_l2sq`/`graft_dot`):
  *  - inputs must be numeric arrays; any numeric element type implicitly
  *    casts to `array<double>` at analysis, anything else (strings,
  *    structs, scalars) is an analysis-time error, not a runtime crash;
  *  - element nulls are undefined (the engine's vector type is
  *    non-null-element, SURVEY.md §1.4);
  *  - RAGGED arrays are DEFINED to truncate at the shorter length — the
  *    sum runs over `min(|a|, |b|)` positions (matches zip_with-then-
  *    aggregate over the overlap; extra positions never contribute).
  */
abstract class VectorBinaryExpression extends BinaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  // covariant override: Seq[DataType] <: Seq[AbstractDataType], whose name
  // is private[sql] and unnameable here
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
}

/** The distance kernels shared by interpreted eval and generated code. */
object VectorKernels {
  private[functions] val Name = "graft.functions.VectorKernels"

  def l2Sq(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  def bitSignDot(w: ArrayData, r: ArrayData): Double = {
    val n = math.min(r.numElements(), w.numElements() * 16)
    var s = 0.0
    var j = 0
    while (j < n) {
      val v = r.getDouble(j)
      s += (if (((w.getInt(j >> 4) >> (j & 15)) & 1) == 1) v else -v)
      j += 1
    }
    s
  }

  /** True where MaxSim is NULL: tokens on the left, none on the right
    * (array_max of an empty list). */
  def emptyRightBag(q: ArrayData, d: ArrayData): Boolean =
    q.numElements() > 0 && d.numElements() == 0

  /** MaxSim over a non-[[emptyRightBag]] pair. */
  def maxSim(q: ArrayData, d: ArrayData): Double = {
    val nq = q.numElements()
    val nd = d.numElements()
    var total = 0.0
    var t = 0
    while (t < nq) {
      val qt = q.getArray(t)
      var best = Double.NegativeInfinity
      var u = 0
      while (u < nd) {
        val s = dot(qt, d.getArray(u))
        // NaN is the greatest element under Spark's Double ordering, so
        // array_max would return it — mirror that, or the two documented-
        // identical forms diverge on NaN inputs
        if (s > best || java.lang.Double.isNaN(s)) best = s
        u += 1
      }
      total += best
      t += 1
    }
    total
  }

  /** ADC MaxSim over a non-[[emptyRightBag]] pair; a code outside its
    * LUT fails by name. */
  def maxSimAdc(q: ArrayData, d: ArrayData): Double = {
    val nq = q.numElements()
    val nd = d.numElements()
    var total = 0.0
    var t = 0
    while (t < nq) {
      val luts = q.getArray(t) // [s][k]
      val ns = luts.numElements()
      var best = Double.NegativeInfinity
      var u = 0
      while (u < nd) {
        val codes = d.getArray(u) // [s]
        val m = math.min(ns, codes.numElements())
        var s = 0.0
        var si = 0
        while (si < m) {
          val lut = luts.getArray(si)
          val code = codes.getShort(si).toInt
          if (code < 0 || code >= lut.numElements()) {
            throw new IllegalArgumentException(
              s"maxsim_adc: code $code out of range for LUT of ${lut.numElements()} entries (subspace $si)")
          }
          s += lut.getDouble(code)
          si += 1
        }
        // NaN = greatest, matching array_max (see maxSim)
        if (s > best || java.lang.Double.isNaN(s)) best = s
        u += 1
      }
      total += best
      t += 1
    }
    total
  }
}

/** Squared L2 distance over two double arrays. */
case class L2SqExpr(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2Sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.l2Sq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over two double arrays. */
case class DotExpr(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** RaBitQ sign dot: `Σ_j (bit j of left set ? right[j] : -right[j])` —
  * the 1-bit serving inner loop (bq_rabitq_rerank), with the sign bits
  * packed 16 per int word LSB-first (word `j >> 4`, bit `j & 15` — the
  * BQModel packing). Bit-identical to the HOF formulation
  * `aggregate(sequence(0, n-1), 0D, (acc, j) -> acc + IF(bit, rq[j],
  * -rq[j]))` — same ascending-j fold — but one primitive loop instead of
  * a per-element lambda walk on the |Q|·N candidate hot path. `j` ranges
  * over the right (query) array; missing high words read as 0-bits would
  * be out-of-bounds instead, so the loop is bounded by both sides.
  */
case class BitSignDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.bitSignDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.bitSignDot($a, $b)")

  override def prettyName: String = "bit_sign_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MaxSim late-interaction score (Khattab & Zaharia 2020) over two bags of
  * token vectors: `Σ_{qt ∈ left} max_{dt ∈ right} qt·dt`. Semantically
  * identical to the HOF formulation
  * `aggregate(qtoks, 0.0, (acc, qt) -> acc + array_max(transform(dtoks,
  * dt -> dot(qt, dt))))` — same token fold order, same left-to-right dot,
  * same truncate-at-shorter ragged rule, empty right bag → NULL, empty
  * left bag → 0.0 — but as one fused primitive loop: the HOF path
  * allocates a scores array per pair and walks lambda closures per token;
  * this walks the nested `ArrayData` directly.
  */
case class MaxSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(ArrayType(DoubleType)))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val d = b.asInstanceOf[ArrayData]
    if (VectorKernels.emptyRightBag(q, d)) null else VectorKernels.maxSim(q, d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |${ev.isNull} = ${VectorKernels.Name}.emptyRightBag($a, $b);
      |if (!${ev.isNull}) ${ev.value} = ${VectorKernels.Name}.maxSim($a, $b);
    """.stripMargin)

  override def prettyName: String = "maxsim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Compressed (ADC) MaxSim over a per-query dot-LUT and per-doc token
  * codes — the serving kernel of PLAID-style late interaction
  * (knn_maxsim_pq). Left: `array<array<array<double>>>` — for each query
  * token, one dot-LUT per code subspace (`lut[t][s][k] = qslice(t,s) ·
  * centroid(s,k)`). Right: `array<array<short>>` — for each doc token,
  * its code per subspace. Score = `Σ_t max_u Σ_s lut[t][s][code[u][s]]`
  * — per doc-token dot is |s| array lookups, never a decode.
  * Bit-identical to the element_at HOF formulation (same subspace add
  * order, empty right bag → NULL, empty left → 0.0), fused to one
  * primitive loop nest.
  */
case class MaxSimAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(ArrayType(ArrayType(DoubleType))),
    ArrayType(ArrayType(org.apache.spark.sql.types.ShortType)))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val d = b.asInstanceOf[ArrayData]
    if (VectorKernels.emptyRightBag(q, d)) null else VectorKernels.maxSimAdc(q, d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |${ev.isNull} = ${VectorKernels.Name}.emptyRightBag($a, $b);
      |if (!${ev.isNull}) ${ev.value} = ${VectorKernels.Name}.maxSimAdc($a, $b);
    """.stripMargin)

  override def prettyName: String = "maxsim_adc"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  def l2SqFast(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      L2SqExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b))
    )
  def dotFast(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b))
    )
  def maxSimFast(q: Column, d: Column): Column =
    GraftColumnBridge.column(
      MaxSimExpr(GraftColumnBridge.expression(q), GraftColumnBridge.expression(d))
    )
  def maxSimAdcFast(qlut: Column, dcodes: Column): Column =
    GraftColumnBridge.column(
      MaxSimAdcExpr(
        GraftColumnBridge.expression(qlut), GraftColumnBridge.expression(dcodes))
    )
  def bitSignDotFast(words: Column, rq: Column): Column =
    GraftColumnBridge.column(
      BitSignDotExpr(
        GraftColumnBridge.expression(words), GraftColumnBridge.expression(rq))
    )
}
