package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.KMeansLocal

/** Inputs and result checks of the vector workload. */
object Vectors {
  val D = 64 // the dimension of the test tables' `embeddings`
  val K = 10

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))

  def frame(spark: SparkSession, rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 1), schema)

  /** Writes `n` mixture points with ids `base + i` as one parquet table. */
  def write(spark: SparkSession, mix: Data.Mixture, stream: Long, base: Long, n: Int,
      path: String, parts: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(0L until n.toLong, parts)
      .map(i => Row(base + i, mix.point(stream, i).toSeq))
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }

  def queries(df: DataFrame): DataFrame =
    df.select(col("id").as("query_id"), col("vec").as("qv"))

  /** (query_id -> neighbours in rank order as (dist, id)) of a kNN result. */
  def byQuery(rows: Array[Row]): Map[Long, IndexedSeq[(Double, Long)]] =
    rows.toSeq
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
        r.getAs[Double]("dist"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.sortBy(_._2).map(x => (x._3, x._4)).toIndexedSeq }

  /** The ANN result checks: k rows per query, non-decreasing distance by
    * rank, and ids that exist. Returns the first failure.
    */
  def annCheck(
      asked: Seq[Long], got: Map[Long, IndexedSeq[(Double, Long)]],
      exists: Long => Boolean): Option[String] = {
    asked.iterator.map { q =>
      val r = got.getOrElse(q, IndexedSeq.empty)
      if (r.size != K) Some(s"query $q: ${r.size} rows, expected $K")
      else if (r.zip(r.drop(1)).exists { case (a, b) => java.lang.Double.compare(a._1, b._1) > 0 })
        Some(s"query $q: distances decrease by rank")
      else r.find(x => !exists(x._2)).map(x => s"query $q: id ${x._2} does not exist")
    }.collectFirst { case Some(e) => e }
  }

  def idsJson(asked: Seq[Long], got: Map[Long, IndexedSeq[(Double, Long)]]): String =
    Json.obj(asked.map(q => q.toString ->
      Json.arr(got.getOrElse(q, IndexedSeq.empty).map(_._2.toString))): _*)

  /** The `nprobe` nearest cells of a query (ties to the lower cell). */
  def probe(q: Array[Double], cents: Array[Array[Double]], nprobe: Int): Seq[Int] =
    cents.indices.sortBy(c => (KMeansLocal.l2Sq(q, cents(c)), c)).take(nprobe)
}
