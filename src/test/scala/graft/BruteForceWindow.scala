package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions._

/** The rank-window spelling of [[graft.operators.BruteForceKNN.knn]],
  * kept only for VectorFunctionsSpec, which pins heap == window.
  */
object BruteForceWindow {

  /** Rank-window formulation of `BruteForceKNN.knn` — same results, kept
    * for plan comparison and small inputs.
    */
  def knnWindow(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    val pairs = base
      .join(broadcast(queries))
      .withColumn("dist", l2SqFast(col(qvecCol), col(bvecCol)))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist"), col(bidCol))
    pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col(bidCol), col("dist"), col("rnk"))
  }
}
