package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All length-`w` character-window hashes of a string in ONE pass — the
  * Rabin–Karp rolling polynomial over code points, mod 2⁶⁴ (natural long
  * wrap-around; exact removal of the outgoing char works because
  * multiplication is invertible-free modular arithmetic over 2⁶⁴).
  * Returns `array<long>` with entry `i` (0-based) hashing the window
  * starting at character `i+1` (1-based, Spark `substring` convention);
  * empty array when the string is shorter than `w`.
  *
  * This is the O(chars) replacement for the O(chars × w) per-position
  * `md5(substring(text, i, w))` kernel in char-level span dedup
  * (Dedup.duplicatedSpans): the hash is an INTERMEDIATE grouping key —
  * equal windows hash equal by construction, unequal windows collide with
  * probability ~2⁻⁶⁴·pairs — so downstream span output is identical to
  * the digest formulation, the DuckDB oracle (which groups by its own md5)
  * included. One multiply-add per character, no per-window string
  * allocation, no digest.
  *
  * One kernel: interpreted eval, generated code (one static call to
  * [[RollingHashWindowsExpr.compute]]) and the streaming span scrub all
  * run [[RollingHashWindowsExpr.computeLongs]], so batch and stream hash
  * bit-for-bit alike by construction.
  *
  * Windows are over Unicode CODE POINTS, matching Spark's `substring`/
  * `length` character semantics (and DuckDB's).
  */
case class RollingHashWindowsExpr(child: Expression, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(w >= 1, s"rolling_hash_windows: window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // covariant override (see VectorBinaryExpression)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(t: Any): Any =
    RollingHashWindowsExpr.compute(t.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashWindowsExpr.compute($c, $w)")

  override def prettyName: String = "rolling_hash_windows"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashWindowsExpr {
  /** Polynomial base: the 64-bit FNV prime — odd, so multiplication by it
    * is a bijection mod 2⁶⁴ and window hashes spread over the full space.
    */
  final val B = 0x100000001b3L

  def compute(s: UTF8String, w: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(computeLongs(s.toString, w))

  /** The raw kernel, also called by executor-side consumers outside the
    * expression (e.g. the streaming span scrub).
    */
  def computeLongs(s: String, w: Int): Array[Long] = {
    val cps = s.codePoints().toArray()
    val n = cps.length
    val out = new Array[Long](math.max(0, n - w + 1))
    if (n >= w) {
      var bw = 1L
      var i = 0
      while (i < w - 1) { bw *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < w) { h = h * B + cps(i); i += 1 }
      out(0) = h
      i = 1
      while (i <= n - w) {
        h = (h - cps(i - 1) * bw) * B + cps(i + w - 1)
        out(i) = h
        i += 1
      }
    }
    out
  }

  def rollingHashWindows(text: Column, w: Int): Column =
    GraftColumnBridge.column(
      RollingHashWindowsExpr(GraftColumnBridge.expression(text), w))
}
