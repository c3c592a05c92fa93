package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfAdc, IvfIndex, PQModel}

/** Reference twin of [[graft.operators.IvfAdc.searchPartitioned]]: the
  * relational spelling, which materializes the probe table with a
  * `localCheckpoint`, collects its distinct cells into the partition
  * filter, reads the index with an inferred schema and joins one LUT per
  * (query, probed cell) onto every candidate code. Kept only for
  * IvfAdcOnePassSpec, which pins the one-pass search equal to it row for
  * row, dist bits included.
  */
object IvfAdcRelational {

  def searchPartitionedRelational(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val probes = IvfIndex
      .probeCells(spark, queries, qidCol, qvecCol, centroids, nprobe)
      .localCheckpoint()
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    // tombstone mask (when a maintenance log exists) applies on top of
    // the pruned candidates only, same as IvfIndex
    val index = IvfIndex.masked(spark, indexPath, pruned)
    IvfAdc.searchWithProbes(
      spark, index, probes, qidCol, qvecCol, centroids, model, k)
  }
}
