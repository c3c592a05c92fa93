package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer

/** IVFADC — the coarse-quantizer + PQ-residual composition (Jégou et al.
  * 2011 §IV, the canonical billion-scale ANN layout; composes the
  * engine's existing IVF cells with the reference's PQ semantics,
  * ref: py/pq.py + py/PRODUCT_QUANTIZATION.md:157-169 for the LUT).
  *
  * Build: every vector is assigned to its nearest coarse cell
  * (plan-embedded argmin), the RESIDUAL vector − centroid[cell] is
  * PQ-encoded, and the (id, cell, code) table persists cell-partitioned —
  * codes are ~M bytes per vector, so the index is 32× smaller than the
  * raw doubles at M=8/D=64, and the probed scan prunes partitions exactly
  * like [[IvfIndex]].
  *
  * Search: each query probes its `nprobe` nearest cells; per (query,
  * probed cell) ONE M×K lookup table is built from the query's residual
  * against that cell ([[ProductQuantizer.lutCol]]); every candidate code
  * in the cell then costs M array lookups inside whole-stage codegen
  * ([[ProductQuantizer.adcFromLutCol]]); a bounded heap keeps top-k per
  * query with partial aggregation before the shuffle.
  *
  * Residuals are computed with `zip_with` (declarative, exact left-to-
  * right element order — the oracle mirrors it element-wise); the hot
  * per-candidate loop is entirely native expressions.
  */
object IvfAdc {

  /** (id, cell, code) residual-code table under the given coarse
    * centroids + PQ model.
    *
    * Optional `rotate`: an orthonormal rotation applied to every residual
    * before PQ — the OPQ composition (Ge et al. 2013 on top of Jégou
    * §IV): rotating residuals redistributes their variance across the M
    * subspaces while preserving every distance, so the same LUT-ADC
    * search runs unchanged in rotated space. Must be a column-to-column
    * isometry (e.g. [[Opq]]'s learned R or a fixed signed permutation);
    * the SAME rotation must be passed to [[search]].
    */
  def encode(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      rotate: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None
  ): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
    IvfIndex.assign(spark, df, idCol, vecCol, centroids)
      .join(broadcast(cents), "cell")
      .withColumn("resid", expr("zip_with(vec, cvec, (x, y) -> x - y)"))
      .withColumn("resid", rotate.fold(col("resid"))(f => f(col("resid"))))
      .select(
        col("id"), col("cell"),
        ProductQuantizer.encodeCol(model, col("resid")).as("code")
      )
  }

  /** Persist the residual-code index cell-partitioned (prunable like
    * [[IvfIndex.build]]).
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      path: String
  ): Unit =
    encode(spark, df, idCol, vecCol, centroids, model)
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** LSM maintenance, sharing [[IvfIndex]]'s log format verbatim (same
    * gen counter, same tombstone table): upsert appends the batch's
    * residual codes at the next generation and tombstones their ids;
    * delete is a pure log append. The codebooks and coarse centroids are
    * fixed at build time (the IVFADC contract), so maintenance never
    * re-trains — it only encodes the batch.
    */
  def upsert(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel
  ): Unit = {
    val g = IvfIndex.nextGen(path)
    encode(spark, df, idCol, vecCol, centroids, model)
      .withColumn("gen", lit(g))
      .write.mode("append").partitionBy("cell").parquet(path)
    IvfIndex.appendTombstones(spark, path, df.select(col(idCol)), g)
  }

  /** Tombstone the ids at the next generation (index files untouched). */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IvfIndex.appendTombstones(spark, path, ids, IvfIndex.nextGen(path))

  /** Major compaction — [[IvfIndex.compact]] is layout-agnostic (it
    * rewrites whatever columns the cell-partitioned index carries), so
    * the residual-code index compacts through the same code path.
    */
  def compact(spark: SparkSession, path: String): Unit =
    IvfIndex.compact(spark, path)

  /** Approximate top-k by asymmetric distance over residual codes.
    * `index` is an [[encode]]/[[build]] table (id, cell, code). Returns
    * (query_id, neighbor_id, dist, rnk) where dist is the ADC estimate
    * ‖(q − centroid[cell]) − decode(code)‖².
    */
  def search(
      spark: SparkSession,
      index: DataFrame,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      k: Int,
      nprobe: Int,
      rotate: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None
  ): DataFrame =
    searchWithProbes(
      spark, index,
      IvfIndex.probeCells(spark, queries, qidCol, qvecCol, centroids, nprobe),
      qidCol, qvecCol, centroids, model, k, rotate
    )

  /** LUT derivation + candidate ADC scan over a precomputed
    * (qid, cell, qvec) probe table — shared by [[search]] and
    * [[searchPartitioned]] so the probe set is computed exactly once per
    * call.
    */
  private def searchWithProbes(
      spark: SparkSession,
      index: DataFrame,
      probes: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      k: Int,
      rotate: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None
  ): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
    // (qid, cell, lut): one LUT per probed (query, cell) pair, from the
    // query's residual against that cell's centroid (rotated like the
    // stored codes when an OPQ rotation is in play)
    val luts = probes
      .join(broadcast(cents), "cell")
      .withColumn("qresid", expr(s"zip_with($qvecCol, cvec, (x, y) -> x - y)"))
      .withColumn("qresid", rotate.fold(col("qresid"))(f => f(col("qresid"))))
      .select(
        col("cell"), col(qidCol),
        ProductQuantizer.lutCol(model, col("qresid")).as("lut")
      )
    val scored = index
      .join(luts, "cell")
      .withColumn(
        "dist",
        ProductQuantizer.adcFromLutCol(model, col("lut"), col("code")))
    bestPer(scored, Seq(qidCol), col("dist"), "id", k)
      .withColumnRenamed("id", "neighbor_id")
  }

  /** IVFADC+R — ADC shortlist + exact refine (Jégou et al. 2011 §V's
    * re-ranking stage): take the top `kShort` candidates per query by the
    * quantized ADC estimate, join their RAW vectors back, recompute the
    * exact L2² and keep the true top `k`. Recovers most of the recall the
    * code quantization loses for a bounded extra cost: the refine join
    * touches |Q|·kShort rows — the shortlist, never the corpus — so at
    * scale it is a small-side join against the raw table (and the only
    * stage that reads raw vectors at all).
    */
  def searchRerank(
      spark: SparkSession,
      index: DataFrame,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      model: PQModel,
      k: Int,
      kShort: Int,
      nprobe: Int,
      raw: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    require(kShort >= k, s"shortlist $kShort must be >= k $k")
    val short = search(
      spark, index, queries, qidCol, qvecCol, centroids, model, kShort, nprobe)
    val pairs = short
      .join(queries.select(col(qidCol), col(qvecCol)), qidCol)
      .join(
        raw.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")),
        "neighbor_id")
      .withColumn(
        "xdist",
        graft.functions.VectorExpressions.l2SqFast(col(qvecCol), col("nvec")))
    bestPer(pairs, Seq(qidCol), col("xdist"), "neighbor_id", k)
  }

  /** Partition-pruned search against a [[build]]-written index: the
    * distinct probed cells become a static partition filter (bounded by
    * the centroid count), same tactic as [[IvfIndex.searchPartitioned]] —
    * and like there, the probe set is evaluated ONCE via an eager
    * `localCheckpoint` shared by the partition-filter collect and the LUT
    * join (blocks released by the ContextCleaner when the result drops).
    */
  def searchPartitioned(
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
    searchWithProbes(
      spark, index, probes, qidCol, qvecCol, centroids, model, k)
  }
}
