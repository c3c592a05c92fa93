package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Nearest-centroid index (the k-means E-step argmin, ref: py/pq.py:161-171;
  * first-lowest-index wins ties). The k×d centroid matrix rides along flat
  * (`c*d + j`) as a codegen reference object — the same plan-embedding
  * tactic as the PQ expressions: no per-row Seq boxing, no broadcast
  * dereference, whole-stage codegen end to end. Validates the input type
  * at analysis and the vector length at runtime. Interpreted eval and
  * generated code both call the one kernel, [[ArgminCentroidExpr.argmin]].
  */
case class ArgminCentroidExpr(child: Expression, flat: Array[Double], k: Int, d: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "centroid_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    PQCheck.vecType(child.dataType, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    ArgminCentroidExpr.argmin(flat, k, d, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("centroids", flat, "double[]")
      s"graft.functions.ArgminCentroidExpr.argmin($cb, $k, $d, $a)"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArgminCentroidExpr {
  /** The kernel shared by interpreted eval and generated code: the index
    * of the nearest of the `k` centroids in `flat` (k×d). */
  def argmin(flat: Array[Double], k: Int, d: Int, v: ArrayData): Int = {
    PQCheck.requireLen(v, d, "vector", "centroid_argmin")
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val off = c * d
      var s = 0.0
      var j = 0
      while (j < d) { val df = v.getDouble(j) - flat(off + j); s += df * df; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }
}
