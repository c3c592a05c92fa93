package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PQCheck, TopKBuffer}
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
  * Search over an index frame ([[search]]): each query probes its
  * `nprobe` nearest cells; per (query, probed cell) ONE M×K lookup table
  * is built from the query's residual against that cell
  * ([[ProductQuantizer.lutCol]]); every candidate code in the cell then
  * costs M array lookups inside whole-stage codegen
  * ([[ProductQuantizer.adcFromLutCol]]); a bounded heap keeps top-k per
  * query with partial aggregation before the shuffle.
  *
  * Search over a built index ([[searchPartitioned]]) is one scan pass:
  * the query batch is collected once under [[MaxQueryBatch]] and probed
  * on the driver, only the query vectors and their probe lists are
  * broadcast, each task builds a (query, cell) LUT when it first reads
  * that cell's codes, and the per-task heaps merge through `bestPer`.
  * Both paths compute the same residuals, LUTs and sums, so on distinct
  * query ids they return the same rows, dist bits included.
  *
  * In [[search]], residuals are computed with `zip_with` (declarative,
  * exact left-to-right element order — the oracle mirrors it
  * element-wise) and the hot per-candidate loop is entirely native
  * expressions; [[searchPartitioned]] subtracts in the same element order
  * and sums each code in the LUT kernel's order.
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
        col("id").cast("long").as("id"), col("cell"),
        ProductQuantizer.encodeCol(model, col("resid")).as("code")
      )
  }

  /** Declared schema of a [[build]]-, [[upsert]]- or sink-written index:
    * `cell` is the partition column, the rest is every data file's footer
    * (ids are bigint whatever the input's id type, since [[encode]] casts
    * them). [[searchPartitioned]] reads the index with it instead of
    * inferring it; a spec pins it to the writers' footers, since Spark
    * reads a missing column as null. */
  private[graft] val IndexSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("code", ArrayType(ShortType)),
    StructField("gen", LongType),
    StructField("cell", IntegerType)))

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
    * (qid, cell, qvec) probe table: the relational spelling of the ADC
    * search, which [[search]] runs over an index frame.
    */
  private[graft] def searchWithProbes(
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

  /** Query-batch cap of [[searchPartitioned]], which holds the batch on
    * the driver and broadcasts it: 10,000 queries are 5 MB of vectors at
    * d = 64, and a task holds at most one cell's LUTs at a time, at most
    * 10,000 · M · K doubles (40 MB at M = 8, K = 64). A larger batch
    * fails by name; split it.
    */
  val MaxQueryBatch: Int = 10000

  /** Partition-pruned search against a [[build]]-written index, in one
    * scan pass:
    *
    *   1. the query batch is collected ONCE through
    *      [[LocalGraph.collectCapped]] (a named error above
    *      [[MaxQueryBatch]]) and validated: a null vector, a null or NaN
    *      component, a width other than `model.d` or one query id with two
    *      different vectors fails by name before any scan. Identical
    *      repeated rows collapse, and an empty batch returns an empty
    *      frame without scanning;
    *   2. each query's `nprobe` cells are picked on the driver by
    *      (L2², cell), the order of [[IvfIndex.probeCells]]' heap;
    *   3. the index is read with its declared [[IndexSchema]], filtered
    *      to the probed cells (a static partition filter, so only their
    *      directories are read) and masked by the tombstone log;
    *   4. one `mapPartitions` scores the scan against the broadcast
    *      query vectors and probe lists: a task builds the LUT of each
    *      (query, cell) with [[PQModel.adcLut]] over `q − centroid` when
    *      it reaches that cell's codes, sums each code in
    *      [[PQModel.adcFromLut]] order with the kernels' code range check,
    *      and keeps a bounded heap per query;
    *   5. the tasks' heap entries merge through `bestPer`.
    *
    * The result is lazy, `(qid, neighbor_id, dist, rnk)` with the
    * caller's query-id type. On distinct query ids it equals the
    * relational spelling over the same probes (probe table, LUT join,
    * [[searchWithProbes]]) row for row, dist bits included.
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
    require(k >= 1, s"$Name: k must be >= 1, got $k")
    require(nprobe >= 1, s"$Name: nprobe must be >= 1, got $nprobe")
    centroids.zipWithIndex.foreach { case (c, i) =>
      require(c != null && c.length == model.d,
        s"$Name: centroid $i has width ${if (c == null) "null" else c.length}, " +
          s"the PQ model has width ${model.d}")
    }
    val picked = queries.select(col(qidCol), col(qvecCol).cast("array<double>"))
    val batch = probeBatch(
      LocalGraph.collectCapped(s"$Name: query batch", picked, MaxQueryBatch),
      centroids, model.d, nprobe)
    val scoredSchema = StructType(Seq(
      picked.schema.head,
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    def ranked(scored: DataFrame): DataFrame =
      bestPer(scored, Seq(qidCol), col("dist"), "id", k)
        .withColumnRenamed("id", "neighbor_id")
    if (batch.qids.isEmpty) {
      // a search's schema, with no scan of the index planned
      val none = java.util.Collections.emptyList[Row]()
      spark.createDataFrame(none, ranked(spark.createDataFrame(none, scoredSchema)).schema)
    } else {
      import spark.implicits._
      val cells = batch.probers.indices.filter(batch.probers(_).nonEmpty)
      val pruned = spark.read.schema(IndexSchema).parquet(indexPath)
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      val bc = spark.sparkContext.broadcast(batch)
      ranked(IvfIndex.masked(spark, indexPath, pruned)
        .select(col("id"), col("cell"), col("code"))
        .as[(Long, Int, Array[Short])]
        .mapPartitions(rows => scoreCodes(bc.value, centroids, model, k, rows))(
          Encoders.row(scoredSchema))
        .toDF())
    }
  }

  private val Name = "IvfAdc.searchPartitioned"

  /** A validated query batch: its distinct query ids and vectors, and
    * for each cell the indices of the queries that probe it. */
  private final case class ProbeBatch(
      qids: Array[Any],
      vecs: Array[Array[Double]],
      probers: Array[Array[Int]])

  /** Validate collected (qid, qvec) rows, collapse repeats and pick each
    * query's `nprobe` cells by (L2², cell) through a [[TopKBuffer]]: the
    * sum and the tie order of the probe heap in [[IvfIndex.probeCells]]. */
  private def probeBatch(
      rows: Array[Row],
      centroids: Array[Array[Double]],
      d: Int,
      nprobe: Int
  ): ProbeBatch = {
    val byQid = new java.util.LinkedHashMap[Any, Array[Double]]()
    rows.foreach { r =>
      val qid = r.get(0)
      require(!r.isNullAt(1), s"$Name: query $qid has a null vector")
      val xs = r.getSeq[Any](1)
      require(xs.length == d,
        s"$Name: query $qid has width ${xs.length}, the index has width $d")
      val v = xs.iterator.zipWithIndex.map {
        case (x: Double, _) if !x.isNaN => x
        case (x, i) =>
          throw new IllegalArgumentException(
            s"$Name: query $qid has a ${if (x == null) "null" else "NaN"} component at $i")
      }.toArray
      val seen = byQid.putIfAbsent(qid, v)
      require(seen == null || seen.indices.forall(i => seen(i) == v(i)),
        s"$Name: query $qid has two different vectors")
    }
    val qids = byQid.keySet.toArray
    val vecs = byQid.values.toArray(new Array[Array[Double]](0))
    val probers = Array.fill(centroids.length)(Array.newBuilder[Int])
    vecs.indices.foreach { q =>
      val heap = new TopKBuffer(nprobe)
      centroids.indices.foreach(c => heap.add(KMeansLocal.l2Sq(vecs(q), centroids(c)), c))
      heap.sortedEntries.foreach { case (_, c) => probers(c.toInt) += q }
    }
    ProbeBatch(qids, vecs, probers.map(_.result()))
  }

  /** One task of [[searchPartitioned]]: the heap entries of every query
    * over the task's (id, cell, code) rows. A data file holds one cell,
    * so the task keeps one cell's LUTs at a time. */
  private def scoreCodes(
      batch: ProbeBatch,
      centroids: Array[Array[Double]],
      model: PQModel,
      k: Int,
      rows: Iterator[(Long, Int, Array[Short])]
  ): Iterator[Row] = {
    val heaps = new Array[TopKBuffer](batch.vecs.length)
    val offs = new Array[Int](model.m)
    var cell = -1
    var probers = Array.emptyIntArray
    var luts = Array.empty[Array[Double]]
    rows.foreach { case (id, c, code) =>
      require(code != null, s"$Name: index row $id has a null code")
      require(code.length == model.m,
        s"$Name: index row $id has a code of length ${code.length}, expected M = ${model.m}")
      if (c != cell) {
        cell = c
        probers = batch.probers(c)
        luts = probers.map { q =>
          val qv = batch.vecs(q)
          val cv = centroids(c)
          model.adcLut(Array.tabulate(qv.length)(i => qv(i) - cv(i)))
        }
      }
      val who = () => s"$Name: index row $id"
      var mi = 0
      while (mi < model.m) {
        offs(mi) = mi * model.k + PQCheck.code(code, mi, model.k, who)
        mi += 1
      }
      var j = 0
      while (j < probers.length) {
        val lut = luts(j)
        var s = 0.0
        mi = 0
        while (mi < model.m) { s += lut(offs(mi)); mi += 1 }
        val q = probers(j)
        if (heaps(q) == null) heaps(q) = new TopKBuffer(k)
        heaps(q).add(s, id)
        j += 1
      }
    }
    heaps.indices.iterator.filter(heaps(_) != null).flatMap { q =>
      heaps(q).sortedEntries.iterator.map { case (d, id) => Row(batch.qids(q), id, d) }
    }
  }
}
