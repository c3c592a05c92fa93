package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.operators.{DistributedHnsw, IvfIndex, LocalGraphSearcher, VectorCompression}
import graft.operators.DistributedHnsw.Shards

/** Reference twins of the [[graft.operators.DistributedHnsw]] searches:
  * the per-call spelling, which meets every shard's base table, edges,
  * entry and the (shard, query) fan-out in one 4-way cogroup and replays
  * the shard's graph inside each search. Kept only for ResidentHnswSpec,
  * which pins each resident search equal to its twin row for row.
  */
object DistributedHnswRelational {

  def searchRelational(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efSearch: Int = -1,
      compression: Option[VectorCompression] = None
  ): DataFrame =
    searchIndexed(shards, fanOut(shards, queries, qidCol, qvecCol), qidCol,
      k, Seq(efSearch), compression).drop("ef")

  def searchEfCurveRelational(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efs: Seq[Int],
      compression: Option[VectorCompression] = None
  ): DataFrame = {
    require(efs.distinct.length == efs.length,
      s"searchEfCurve: duplicate efs in ${efs.mkString("[", ", ", "]")}")
    searchIndexed(shards, fanOut(shards, queries, qidCol, qvecCol), qidCol,
      k, efs, compression)
  }

  def searchRoutedRelational(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      shardCentroids: Array[Array[Double]],
      nProbeShards: Int,
      efSearch: Int = -1,
      compression: Option[VectorCompression] = None
  ): DataFrame = {
    val spark = shards.vectors.sparkSession
    import spark.implicits._
    val queryRdd = IvfIndex
      .probeCells(spark, queries, qidCol, qvecCol, shardCentroids, nProbeShards)
      .select(
        col("cell"),
        col(qidCol).cast("long"),
        col(qvecCol).cast("array<double>"))
      .as[(Int, Long, Seq[Double])]
      .rdd.map { case (s, id, v) => (s, (id, v)) }
    searchIndexed(shards, queryRdd, qidCol, k, Seq(efSearch), compression)
      .drop("ef")
  }

  def searchFilteredRelational(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      allowedIds: DataFrame,
      efSearch: Int = -1
  ): DataFrame =
    searchFlagged(
      shards, queries, qidCol, qvecCol, k,
      shards.vectors
        .join(
          allowedIds
            .select(col(allowedIds.columns.head).cast("long").as("id"))
            .distinct()
            .withColumn("ok", lit(true)),
          Seq("id"), "left")
        .select(
          col("shard"), col("id"), col("vec"),
          coalesce(col("ok"), lit(false)).as("ok")),
      efSearch)

  def searchWithTombstonesRelational(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      tombstones: DataFrame,
      efSearch: Int = -1
  ): DataFrame =
    searchFlagged(
      shards, queries, qidCol, qvecCol, k,
      shards.vectors
        .join(
          tombstones
            .select(col(tombstones.columns.head).cast("long").as("id"))
            .distinct()
            .withColumn("dead", lit(true)),
          Seq("id"), "left")
        .select(
          col("shard"), col("id"), col("vec"),
          col("dead").isNull.as("ok")),
      efSearch)

  private def searchFlagged(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      flagged: DataFrame, // shard int, id long, vec array<double>, ok boolean
      efSearch: Int
  ): DataFrame = {
    val spark = shards.vectors.sparkSession
    import spark.implicits._
    val params = shards.params
    val base = flagged
      .as[(Int, Long, Seq[Double], Boolean)]
      .rdd.map { case (s, id, v, ok) => (s, (id, (v, ok))) }
    searchShards[(Seq[Double], Boolean)](
      shards, base, fanOut(shards, queries, qidCol, qvecCol), qidCol, k,
      Seq(efSearch),
      (payload, height) => {
        // the per-node flags ride with the payload; the searcher takes
        // them per search
        val flags = payload.map(_._2)
        (LocalGraphSearcher.raw(payload.map(_._1.toArray), height, params),
          flags(_))
      }
    ).drop("ef")
  }

  /** Every query replicated to every shard. */
  private def fanOut(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String
  ): RDD[(Int, (Long, Seq[Double]))] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val nShards = shards.numShards
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .rdd.flatMap { case (id, v) =>
        (0 until nShards).iterator.map(s => (s, (id, v)))
      }
  }

  private def searchIndexed(
      shards: Shards,
      queries: RDD[(Int, (Long, Seq[Double]))],
      qidCol: String,
      k: Int,
      efs: Seq[Int],
      compression: Option[VectorCompression]
  ): DataFrame = {
    val spark = shards.vectors.sparkSession
    import spark.implicits._
    val params = shards.params
    compression match {
      case Some(c) =>
        val codeRdd = shards.codes
          .getOrElse(DistributedHnsw.shardCodes(shards.vectors, c))
          .select(col("shard"), col("id"), col("code"))
          .as[(Int, Long, Seq[Short])]
          .rdd.map { case (s, id, cd) => (s, (id, cd)) }
        searchShards[Seq[Short]](
          shards, codeRdd, queries, qidCol, k, efs,
          (codes, height) => (LocalGraphSearcher.compressed(
            codes.map(_.toArray), height, params, c), null))
      case None =>
        val vecRdd = shards.vectors
          .select(col("shard"), col("id"), col("vec"))
          .as[(Int, Long, Seq[Double])]
          .rdd.map { case (s, id, v) => (s, (id, v)) }
        searchShards[Seq[Double]](
          shards, vecRdd, queries, qidCol, k, efs,
          (vecs, height) => (LocalGraphSearcher.raw(
            vecs.map(_.toArray), height, params), null))
    }
  }

  /** The shard-cogroup kernel: co-locate base table / edges / entry / the
    * (shard, query) pairs per shard, replay the shard's edge table into a
    * local searcher, run the shard's queries through it at every ef, then
    * merge globally. `mkSearcher` returns the searcher and its per-node
    * allow flag (null admits every node). Returns (ef, qidCol,
    * neighbor_id, dist, rnk).
    */
  private def searchShards[V: ClassTag](
      shards: Shards,
      base: RDD[(Int, (Long, V))],
      queries: RDD[(Int, (Long, Seq[Double]))],
      qidCol: String,
      k: Int,
      efs: Seq[Int],
      mkSearcher: (Array[V], Int) => (LocalGraphSearcher, Int => Boolean)
  ): DataFrame = {
    val spark = shards.vectors.sparkSession
    import spark.implicits._
    val edges = shards.edges
      .as[(Int, Int, Long, Long)]
      .rdd.map { case (s, l, a, b) => (s, (l, a, b)) }
    val entries = shards.entries
      .as[(Int, Long, Int)]
      .rdd.map { case (s, ep, h) => (s, (ep, h)) }
    val efArr = efs.toArray
    val walked = base.cogroup(edges, entries, queries)
      .flatMap { case (_, (nodes, es, ens, qs)) =>
        if (nodes.isEmpty || ens.isEmpty || qs.isEmpty) Iterator.empty
        else {
          val sorted = nodes.toArray.sortBy(_._1)
          val ids = sorted.map(_._1)
          val localOf = ids.zipWithIndex.toMap
          val (ep, height) = ens.head
          val (searcher, allow) = mkSearcher(sorted.map(_._2), height)
          es.foreach { case (l, a, b) =>
            searcher.addEdge(l, localOf(a), localOf(b))
          }
          searcher.setEntry(localOf(ep))
          qs.iterator.flatMap { case (qid, qv) =>
            require(qv.length == searcher.width,
              s"query $qid has width ${qv.length}, the indexed vectors " +
                s"have width ${searcher.width}")
            searcher.search(qv.toArray, k, efArr, allow).map { case (e, d, local) =>
              (e, qid, ids(local), d)
            }
          }
        }
      }
      .toDF("ef", "query_id", "neighbor_id", "dist")
    bestPer(walked, Seq("ef", "query_id"), col("dist"), "neighbor_id", k)
      .select(
        col("ef").cast("long").as("ef"),
        col("query_id").as(qidCol),
        col("neighbor_id"), col("dist"), col("rnk"))
  }
}
