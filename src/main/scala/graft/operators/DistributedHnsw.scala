package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.functions.TopKAgg.bestPer

/** Sharded HNSW over Spark (SURVEY.md §3.1-3.2 "Spark shape", M5).
  *
  * HNSW insertion is sequential by construction — each insert reads the
  * graph previous inserts built — so the distributed design is the standard
  * sharded-ANN one: partition the vectors into `numShards` disjoint shards,
  * build an exact reference-semantics [[HnswIndex]] *per shard* inside
  * `mapPartitions` (no driver involvement, no shuffle beyond the initial
  * repartition), and serve a batch of queries by searching every shard and
  * merging per-query results (union + top-k, SURVEY.md D1). Per-shard
  * seeds derive from (seed, shard) so the whole build is deterministic
  * under a fixed shard count.
  *
  * The index artifact is *tables*, not a mutable object: an edge table
  * (shard, layer, src, dst), a vector table (shard, id, vec) and an entry
  * table (shard, ep, height) — the reference's in-place graph mutation
  * (py/hnsw.py:348, 377-387) becomes immutable table-in/table-out.
  *
  * Serving keeps the index partition-resident and moves only the queries
  * (the REPOSE shape): the first search of a [[Shards]] replays each
  * shard's tables into a [[LocalGraphSearcher]] once, held in an RDD of
  * one searcher per shard, hash-partitioned by shard and persisted
  * MEMORY_ONLY; every later search shuffles only its (shard, query)
  * fan-out into the same partitioning and walks the resident graphs
  * (the reference's `KNNSearch` over an in-memory graph,
  * py/hnsw.py:394-410). Each executor holds only its shards' slice.
  */
object DistributedHnsw {

  final case class Shards(
      numShards: Int,
      params: HnswParams,
      vectors: DataFrame, // shard int, id long, vec array<double>
      edges: DataFrame,   // shard int, layer int, src long, dst long
      entries: DataFrame, // shard int, ep long, height int
      codes: Option[DataFrame] = None, // shard int, id long, code array<short>
      /** Per-node drawn level (shard int, id long, level int) — build
        * metadata emitted by [[buildAssigned]]; None for parquet-loaded
        * artifacts (not persisted). Under
        * [[HnswParams.deterministicLevels]] this table is exactly the md5
        * coin formula over global ids, i.e. SQL-replayable.
        */
      levels: Option[DataFrame] = None,
      private[DistributedHnsw] val caches: Seq[DataFrame] = Nil
  ) {
    /** The resident searchers by payload (None: raw vectors; Some(codec):
      * that codec's code table), each built by the first search that
      * needs it. Guarded by itself, so concurrent first searches share
      * one build. */
    private val resident =
      scala.collection.mutable.HashMap.empty[Option[VectorCompression], RDD[(Int, ShardGraph)]]
    private var replayed: LongAccumulator = _

    /** Release the build-time caches (the shard-partitioned vectors and the
      * shared edge/entry materialization) and the resident searchers of
      * every payload searched so far. Call once the index is persisted
      * or no longer queried — a long-lived session (or a streaming sink
      * building per micro-batch) otherwise accumulates executor storage
      * without bound. Idempotent; [[DistributedHnsw.load]]-opened shards
      * hold no build-time caches but, once searched, hold resident
      * searchers like built ones. A later search rebuilds them. Until
      * then both stay held even after this object is unreachable: the
      * build caches by Spark's cache manager, the resident searchers by
      * [[DistributedHnsw]], so storage is released here, not whenever
      * the JVM happens to collect garbage.
      */
    def unpersist(): Unit = {
      caches.foreach(_.unpersist(blocking = false))
      resident.synchronized {
        resident.values.foreach { g =>
          g.unpersist(blocking = false)
          held.remove(g)
        }
        resident.clear()
      }
    }

    /** Shard replays run for this index so far, over every payload: one
      * per non-empty shard per resident build, plus one per resident
      * partition recomputed after an eviction. */
    private[graft] def shardReplays: Long =
      resident.synchronized(Option(replayed).fold(0L)(_.sum))

    private[DistributedHnsw] def residentFor(payload: Option[VectorCompression])(
        build: LongAccumulator => RDD[(Int, ShardGraph)]
    ): RDD[(Int, ShardGraph)] =
      resident.synchronized {
        if (replayed == null)
          replayed = edges.sparkSession.sparkContext
            .longAccumulator("DistributedHnsw.shardReplays")
        resident.getOrElseUpdate(payload, {
          val g = build(replayed)
          held.add(g)
          g
        })
      }
  }

  /** Every resident searcher RDD not yet released by [[Shards.unpersist]]:
    * Spark drops a persisted RDD once nothing references it, which would
    * free an index's storage at an arbitrary later moment. */
  private val held = java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()

  /** One shard's resident searcher and its node ids by local index. */
  private[operators] final case class ShardGraph(
      ids: Array[Long], // ascending
      searcher: LocalGraphSearcher
  )

  /** Build per-shard HNSW graphs. Rows are assigned to shards by
    * `id % numShards` (deterministic, data-independent) and inserted in
    * ascending-id order inside each shard, so a rebuild reproduces the
    * identical graph.
    */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      params: HnswParams,
      numShards: Int,
      seed: Long,
      compression: Option[VectorCompression] = None
  ): Shards =
    buildAssigned(
      df.select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec")
      ).withColumn("shard", pmod(col("id"), lit(numShards)).cast("int")),
      params, numShards, seed, compression)

  /** CLUSTER-sharded build (the SPANN/DiskANN-style layout): shards are
    * coarse k-means cells instead of hash buckets, so vectors that are
    * close live in the same shard and a query's true neighbors
    * concentrate in its few nearest shards — which is what makes
    * [[searchRouted]] sound. Hash sharding spreads neighbors uniformly
    * (every shard must be searched); cluster sharding buys the
    * nShards/nProbe fan-out cut at the cost of shard skew (the centroids
    * come from [[KMeans.fit]] or any fixed set; skew is observable via
    * ivf_cell_stats' occupancy view of the same assignment).
    */
  def buildClustered(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      params: HnswParams,
      shardCentroids: Array[Array[Double]],
      seed: Long,
      compression: Option[VectorCompression] = None
  ): Shards = {
    val spark = df.sparkSession
    buildAssigned(
      df.select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec")
      ).withColumn(
        "shard",
        KMeans.assignCol(spark, shardCentroids, col("vec")).cast("int")),
      params, shardCentroids.length, seed, compression)
  }

  private def buildAssigned(
      assigned: DataFrame, // (id long, vec array<double>, shard int)
      params: HnswParams,
      numShards: Int,
      seed: Long,
      compression: Option[VectorCompression]
  ): Shards = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val data = assigned.repartition(numShards, col("shard"))
    data.cache()

    val built = data
      .select(col("shard"), col("id"), col("vec"))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        // a hash partition may carry several shard keys: bucket rows by
        // shard in ONE pass (toSeq.groupBy would hold the partition twice
        // at peak — once as the seq, once as the grouped copies), then
        // build one index per shard present
        val byShard = scala.collection.mutable.HashMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])]]
        it.foreach { case (s, id, v) =>
          byShard.getOrElseUpdate(
            s, scala.collection.mutable.ArrayBuffer.empty) += ((id, v))
        }
        byShard.iterator.flatMap { case (shard, rows) =>
          val sorted = rows.sortInPlace()(Ordering.by(_._1))
          val ids = sorted.map(_._1).toArray
          val index = new HnswIndex(params, seed + shard, compression)
          sorted.foreach { case (gid, v) =>
            // det mode: level coin keyed on the GLOBAL id + base seed, so
            // the level assignment is shard-layout-independent and replays
            // as one md5 expression in SQL (the kmeans_*_det discipline)
            val coin =
              if (params.deterministicLevels)
                KMeans.md5Coin(s"$gid:hnswlvl:$seed")
              else Double.NaN
            index.insert(v.toArray, coin)
          }
          val edges = index.graph.edgeIterator.map { case (l, src, dst) =>
            (shard, l, ids(src), ids(dst), -1L, -1)
          }
          val entry =
            Iterator((shard, -1, -1L, -1L, ids(index.entryPoint), index.height))
          val lvls = ids.indices.iterator.map { i =>
            (shard, -2, ids(i), index.levelOf(i).toLong, -1L, -1)
          }
          edges ++ entry ++ lvls
        }
      }
      .toDF("shard", "layer", "src", "dst", "ep", "height")
    built.cache()

    val edges = built
      .filter(col("layer") >= 0)
      .select(col("shard"), col("layer"), col("src"), col("dst"))
    val entries = built
      .filter(col("layer") === -1)
      .select(col("shard"), col("ep"), col("height"))
    val levels = built
      .filter(col("layer") === -2)
      .select(col("shard"), col("src").as("id"),
        col("dst").cast("int").as("level"))
    // compressed builds persist the CODES as a first-class index table —
    // the reference's own layout (py/hnsw.py:345-348 stores the encoded
    // vector in the index). Encoding happens here, exactly once per
    // vector; search serves from this table and never touches raw vectors
    val codes = compression.map { c =>
      val df = shardCodes(data, c)
      df.cache()
      df
    }
    Shards(numShards, params, data, edges, entries, codes,
      levels = Some(levels),
      caches = Seq(data, built) ++ codes.toSeq)
  }

  /** (shard, id, code) via a partition-batched kernel — one broadcast codec
    * reference per partition, each vector encoded exactly once (the generic
    * [[VectorCompression]] analog of
    * [[ProductQuantizer.encodePartitioned]]).
    */
  private[graft] def shardCodes(
      vectors: DataFrame, // shard int, id long, vec array<double>
      c: VectorCompression
  ): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(c)
    vectors
      .select(col("shard"), col("id"), col("vec"))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        val codec = bc.value
        it.map { case (s, id, v) => (s, id, codec.encode(v.toArray)) }
      }
      .toDF("shard", "id", "code")
  }

  /** Persist the index artifact (vectors/edges/entries, shard-partitioned
    * parquet). With dynamic partition overwrite, writing a rebuilt subset
    * of shards replaces only those shards' files — the unit of incremental
    * maintenance.
    */
  def save(shards: Shards, path: String): Unit = {
    val spark = shards.vectors.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    shards.vectors.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/vectors")
    shards.edges.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/edges")
    shards.entries.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/entries")
    // ~M shorts per vector vs D doubles — the compressed artifact a user
    // indexing 10^9 vectors actually wants on disk
    shards.codes.foreach(_.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/codes"))
  }

  /** Load a persisted index artifact; the code table comes back when the
    * artifact was saved from a compressed build.
    */
  def load(
      spark: SparkSession,
      path: String,
      params: HnswParams,
      numShards: Int
  ): Shards = {
    val codesPath = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codes =
      if (fs.exists(codesPath))
        Some(spark.read.parquet(s"$path/codes")
          .select(col("shard").cast("int").as("shard"), col("id"), col("code")))
      else None
    Shards(
      numShards,
      params,
      spark.read.parquet(s"$path/vectors")
        .select(col("shard").cast("int").as("shard"), col("id"), col("vec")),
      spark.read.parquet(s"$path/edges")
        .select(col("shard").cast("int").as("shard"), col("layer"),
          col("src"), col("dst")),
      spark.read.parquet(s"$path/entries")
        .select(col("shard").cast("int").as("shard"), col("ep"), col("height")),
      codes
    )
  }

  /** Batch search: every shard traverses its local graph for every query,
    * then a global per-query top-k merge. Returns
    * (query_id, neighbor_id, dist, rnk).
    *
    * Queries never pass through the driver, and the index does not move:
    * the first search replays each shard's vectors, edges and entry into
    * a resident [[LocalGraphSearcher]] (one per shard, persisted
    * MEMORY_ONLY in an RDD hash-partitioned by shard), and every search
    * partitions only its (shard, query) fan-out with the same
    * partitioner and walks the resident graphs partition by partition.
    * A search shuffles O(|Q|·numShards) query rows plus the O(|Q|·k)
    * merge, whatever the corpus size.
    *
    * Executor memory: each executor keeps its shards' searchers for the
    * life of the [[Shards]] (until [[Shards.unpersist]]) — the vectors as
    * D doubles each (the codes, ~M shorts each, when compressed) plus a
    * boxed hash adjacency of about 50 bytes per edge. Measured: 7.2 MB
    * for 5,000 × 64-d vectors at m = 12 (96k edges), about 2.8× the raw
    * vectors. Each payload searched (raw, or one per codec) holds its own
    * copy. A partition that does not fit is replayed again by each search
    * that needs it, like any MEMORY_ONLY block.
    *
    * Compressed search replays the CODE table (persisted at build — ~M
    * shorts per vector instead of D doubles) and measures asymmetric
    * query-to-code distances; the raw vector table is not in the
    * lineage and nothing encodes inside the search tasks. A compressed
    * search over a raw-only artifact derives the code table once,
    * distributed, before the replay.
    */
  def search(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efSearch: Int = -1,
      compression: Option[VectorCompression] = None
  ): DataFrame =
    searchResident(shards, fanOut(shards, queries, qidCol, qvecCol), qidCol,
      k, Seq(efSearch), compression).drop("ef")

  /** Operating-curve search: ONE walk of the resident graphs (one
    * upper-layer descent per query) serving EVERY efSearch setting —
    * the per-ef work is only the layer-0 beam. [[search]] is this curve
    * at one ef, so each ef slice is bit-equal to [[search]] at that ef
    * (spec-gated). Returns (ef, query_id, neighbor_id, dist, rnk) with
    * the same bounded-heap global top-k merge, keyed per (ef, query).
    */
  def searchEfCurve(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efs: Seq[Int],
      compression: Option[VectorCompression] = None
  ): DataFrame = {
    // a repeated ef would put every neighbor twice into one (ef, query)
    // top-k: the merge heap does not dedupe ids
    require(efs.distinct.length == efs.length,
      s"searchEfCurve: duplicate efs in ${efs.mkString("[", ", ", "]")}")
    searchResident(shards, fanOut(shards, queries, qidCol, qvecCol), qidCol,
      k, efs, compression)
  }

  /** Routed search over a [[buildClustered]] index: each query visits
    * only its `nProbeShards` nearest shards (by shard centroid — the same
    * probe selection as [[IvfIndex.probeCells]]), cutting per-query work
    * by nShards/nProbeShards. With `nProbeShards = numShards` this
    * degrades to [[search]] exactly (spec-gated); recall under partial
    * probing is gated like every approximate path. The probe stage costs
    * |Q|·nShards centroid distances — the IVF probe economics, reused.
    */
  def searchRouted(
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
    val spark = queries.sparkSession
    import spark.implicits._
    val queryRdd = IvfIndex
      .probeCells(spark, queries, qidCol, qvecCol, shardCentroids, nProbeShards)
      .select(
        col("cell"),
        col(qidCol).cast("long"),
        col(qvecCol).cast("array<double>"))
      .as[(Int, Long, Array[Double])]
      .rdd.map { case (s, id, v) => (s, (id, v)) }
    searchResident(shards, queryRdd, qidCol, k, Seq(efSearch), compression)
      .drop("ef")
  }

  /** Attribute-filtered batch search (the graph half of the filtered-ANN
    * story — [[IvfIndex.searchPartitionedWith]]'s `baseFilter` is the
    * inverted-file half): `allowedIds` (one numeric id column — typically
    * a predicate over a metadata table) flags each shard vector, the
    * layer-0 traversal routes through disallowed nodes but only surfaces
    * flagged ones. The flags are per call: they ride to the resident
    * shard graphs as a co-partitioned (shard, id, ok) input — one boolean
    * per node, no vector moves, and the allow-set is never collected
    * anywhere.
    *
    * Under a selective predicate raise `efSearch` (the standard
    * over-fetch) — recall is spec-gated; with every id allowed the result
    * is bit-identical to [[search]].
    */
  def searchFiltered(
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
      shards.vectors.select(col("shard"), col("id"))
        .join(
          allowedIds
            .select(col(allowedIds.columns.head).cast("long").as("id"))
            .distinct()
            .withColumn("ok", lit(true)),
          Seq("id"), "left")
        .select(
          col("shard"), col("id"), coalesce(col("ok"), lit(false)).as("ok")),
      efSearch)

  /** Tombstone-excluding search — the DELETE half of index maintenance
    * without touching the graph: deleted ids stay as routable waypoints in
    * the traversal (removing their edges would sever paths and crater
    * recall) but can never surface in results. The flag is the INVERSE of
    * [[searchFiltered]]'s allow-list, built by one left join of the base
    * table against the tombstone set — when deletes are sparse (the
    * steady state between compactions) that ships |tombstones| rows, not
    * an N-row allow materialization. With an empty tombstone set the plan
    * degenerates to [[search]]'s results bit-for-bit (spec-gated); as the
    * tombstone fraction grows, raise `efSearch` (the standard over-fetch)
    * until [[compact]] rewrites the affected shards.
    */
  def searchWithTombstones(
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
      shards.vectors.select(col("shard"), col("id"))
        .join(
          tombstones
            .select(col(tombstones.columns.head).cast("long").as("id"))
            .distinct()
            .withColumn("dead", lit(true)),
          Seq("id"), "left")
        .select(col("shard"), col("id"), col("dead").isNull.as("ok")),
      efSearch)

  private def searchFlagged(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      flags: DataFrame, // shard int, id long, ok boolean
      efSearch: Int
  ): DataFrame =
    searchResident(shards, fanOut(shards, queries, qidCol, qvecCol), qidCol,
      k, Seq(efSearch), None, Some(flags)).drop("ef")

  /** Shard-scoped compaction — the physical half of delete maintenance:
    * tombstoned vectors are removed by REBUILDING ONLY the shards that
    * contain them; every other shard's graph, entry, and codes pass
    * through untouched (and with [[save]]'s dynamic partition overwrite,
    * unaffected shards' files are never rewritten). The affected-shard
    * set is a ≤ numShards-row collect, not a data collect. Deleting d
    * ids spread over s shards costs s shard rebuilds — O(corpus/numShards
    * · s) — independent of total index size, which is what makes
    * periodic compaction viable at 10^9 vectors.
    *
    * A compressed index must pass its codec so the rebuilt shards'
    * code tables are re-derived; surviving shards keep their persisted
    * codes.
    */
  def compact(
      shards: Shards,
      tombstones: DataFrame,
      seed: Long,
      compression: Option[VectorCompression] = None
  ): Shards = {
    require(
      shards.codes.isEmpty || compression.isDefined,
      "compacting a compressed index requires its codec (codes must be re-derived for rebuilt shards)")
    require(
      shards.codes.isDefined || compression.isEmpty,
      "compacting an uncompressed index with a codec would produce codes for the rebuilt shards only " +
        "(untouched shards would silently vanish from compressed search) — build/encode the full index first")
    val tomb = tombstones
      .select(col(tombstones.columns.head).cast("long").as("id"))
      .distinct()
    val affected = shards.vectors
      .join(tomb, Seq("id"), "left_semi")
      .select(col("shard")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return shards
    val survivors = shards.vectors.join(tomb, Seq("id"), "left_anti")
    val rebuilt = buildAssigned(
      survivors
        .filter(col("shard").isin(affected: _*))
        .select(col("id"), col("vec"), col("shard")),
      shards.params, shards.numShards, seed, compression)
    def keep(df: DataFrame): DataFrame =
      df.filter(!col("shard").isin(affected: _*))
    Shards(
      shards.numShards,
      shards.params,
      vectors = keep(shards.vectors).unionByName(rebuilt.vectors),
      edges = keep(shards.edges).unionByName(rebuilt.edges),
      entries = keep(shards.entries).unionByName(rebuilt.entries),
      codes = (shards.codes, rebuilt.codes) match {
        case (Some(o), Some(n)) => Some(keep(o).unionByName(n))
        case (None, n)          => n
        case (o, None)          => o.map(keep)
      },
      levels = (shards.levels, rebuilt.levels) match {
        case (Some(o), Some(n)) => Some(keep(o).unionByName(n))
        // A parquet-loaded index has no levels table; emitting only the
        // rebuilt shards' levels would let a downstream census silently
        // read a partial table as complete — absent beats partial.
        case (None, _)          => None
        case (o, None)          => o.map(keep)
      },
      caches = rebuilt.caches
    )
  }

  /** Every query replicated to every shard: the (shard, query) input of
    * the hash-sharded searches. */
  private def fanOut(
      shards: Shards,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String
  ): RDD[(Int, (Long, Array[Double]))] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val nShards = shards.numShards
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .rdd.flatMap { case (id, v) =>
        (0 until nShards).iterator.map(s => (s, (id, v)))
      }
  }

  /** The partitioning of the resident graphs: one partition per shard. */
  private def byShard(shards: Shards) = new HashPartitioner(shards.numShards)

  /** The resident searchers for `payload`: the index's raw vectors, or
    * its code table when a codec is given. Built on the first call per
    * payload, by [[replay]]. */
  private def resident(
      shards: Shards,
      payload: Option[VectorCompression]
  ): RDD[(Int, ShardGraph)] = shards.residentFor(payload) { replays =>
    val spark = shards.edges.sparkSession
    import spark.implicits._
    val params = shards.params
    payload match {
      case Some(c) =>
        val codeRdd = shards.codes.getOrElse(shardCodes(shards.vectors, c))
          .select(col("shard"), col("id"), col("code"))
          .as[(Int, Long, Seq[Short])]
          .rdd.map { case (s, id, cd) => (s, (id, cd)) }
        replay[Seq[Short]](shards, codeRdd, replays,
          (codes, height) => LocalGraphSearcher.compressed(
            codes.map(_.toArray), height, params, c))
      case None =>
        val vecRdd = shards.vectors
          .select(col("shard"), col("id"), col("vec"))
          .as[(Int, Long, Seq[Double])]
          .rdd.map { case (s, id, v) => (s, (id, v)) }
        replay[Seq[Double]](shards, vecRdd, replays,
          (vecs, height) => LocalGraphSearcher.raw(
            vecs.map(_.toArray), height, params))
    }
  }

  /** The one-time replay, generic over the per-node payload (raw vectors
    * or codes): co-locate each shard's base table, edges and entry in one
    * cogroup under [[byShard]], replay the edge table into a local
    * searcher (no random level draws, so exactly the built graph), and
    * persist the searchers MEMORY_ONLY. Materialized before it returns,
    * so a caller waiting on the build finds it done. */
  private def replay[V: ClassTag](
      shards: Shards,
      base: RDD[(Int, (Long, V))],
      replays: LongAccumulator,
      mkSearcher: (Array[V], Int) => LocalGraphSearcher
  ): RDD[(Int, ShardGraph)] = {
    val spark = shards.edges.sparkSession
    import spark.implicits._
    val edges = shards.edges
      .as[(Int, Int, Long, Long)]
      .rdd.map { case (s, l, a, b) => (s, (l, a, b)) }
    val entries = shards.entries
      .as[(Int, Long, Int)]
      .rdd.map { case (s, ep, h) => (s, (ep, h)) }
    val graphs = base.cogroup(edges, entries, byShard(shards))
      .mapPartitions(_.flatMap { case (shard, (nodes, es, ens)) =>
        if (nodes.isEmpty || ens.isEmpty) Iterator.empty
        else {
          val sorted = nodes.toArray.sortBy(_._1)
          val ids = sorted.map(_._1)
          val localOf = ids.zipWithIndex.toMap
          val (ep, height) = ens.head
          val searcher = mkSearcher(sorted.map(_._2), height)
          es.foreach { case (l, a, b) =>
            searcher.addEdge(l, localOf(a), localOf(b))
          }
          searcher.setEntry(localOf(ep))
          replays.add(1L)
          Iterator((shard, ShardGraph(ids, searcher)))
        }
      }, preservesPartitioning = true)
      .setName("DistributedHnsw.resident")
      .persist(StorageLevel.MEMORY_ONLY)
    graphs.count()
    graphs
  }

  /** The search kernel: partition the (shard, query) pairs — and, for a
    * filtered search, the per-node (shard, id, ok) flags — like the
    * resident graphs, zip them partition by partition, run every query of
    * a shard through its searcher at every ef, then merge globally with a
    * bounded-heap top-k per (ef, query) — partial agg per partition,
    * O(|Q|·k) shuffle per ef. A shard with no graph (no nodes) yields
    * nothing. Returns (ef, qidCol, neighbor_id, dist, rnk).
    */
  private def searchResident(
      shards: Shards,
      queries: RDD[(Int, (Long, Array[Double]))],
      qidCol: String,
      k: Int,
      efs: Seq[Int],
      payload: Option[VectorCompression],
      flags: Option[DataFrame] = None // shard int, id long, ok boolean
  ): DataFrame = {
    val spark = shards.edges.sparkSession
    import spark.implicits._
    val graphs = resident(shards, payload)
    val part = byShard(shards)
    val qs = queries.partitionBy(part)
    val efArr = efs.toArray
    def walk(
        graph: Map[Int, ShardGraph],
        allow: Int => Int => Boolean, // per shard; null admits every node
        it: Iterator[(Int, (Long, Array[Double]))]
    ): Iterator[(Int, Long, Long, Double)] =
      it.flatMap { case (shard, (qid, qv)) =>
        graph.get(shard).fold(Iterator.empty[(Int, Long, Long, Double)]) { g =>
          // the distance kernels loop over the query's length: a shorter
          // query would silently score a prefix of every vector
          require(qv != null && qv.length == g.searcher.width,
            s"query $qid has width ${if (qv == null) "null" else qv.length}, " +
              s"the indexed vectors have width ${g.searcher.width}")
          // NaN compares false against every distance: the beam's
          // ranking, and so the neighbors returned, would be arbitrary
          require(!qv.exists(_.isNaN), s"query $qid has a NaN component")
          g.searcher.search(qv, k, efArr, allow(shard)).map { case (e, d, local) =>
            (e, qid, g.ids(local), d)
          }
        }
      }
    val walked = flags match {
      case None =>
        graphs.zipPartitions(qs)((gs, it) => walk(gs.toMap, _ => null, it))
      case Some(f) =>
        val okRdd = f.select(col("shard"), col("id"), col("ok"))
          .as[(Int, Long, Boolean)]
          .rdd.map { case (s, id, ok) => (s, (id, ok)) }
          .partitionBy(part)
        graphs.zipPartitions(qs, okRdd) { (gs, it, oks) =>
          val graph = gs.toMap
          val allow = graph.map { case (s, g) => s -> new Array[Boolean](g.ids.length) }
          oks.foreach { case (s, (id, ok)) =>
            allow.get(s).foreach { a =>
              val i = java.util.Arrays.binarySearch(graph(s).ids, id)
              if (i >= 0) a(i) = ok
            }
          }
          walk(graph, s => allow(s)(_), it)
        }
    }
    bestPer(walked.toDF("ef", "query_id", "neighbor_id", "dist"),
        Seq("ef", "query_id"), col("dist"), "neighbor_id", k)
      .select(
        col("ef").cast("long").as("ef"),
        col("query_id").as(qidCol),
        col("neighbor_id"), col("dist"), col("rnk"))
  }
}

/** Read-only shard searcher: the [[HnswIndex]] search path over a replayed
  * edge table (adjacency arrays, no build machinery). Distance evaluation
  * is injected — raw L2² over vectors, or asymmetric query-to-code over a
  * persisted code table (nothing encodes at search time). `width` is the
  * indexed vectors' dimension, the only query width the distance accepts.
  */
final class LocalGraphSearcher private (
    n: Int,
    val width: Int,
    height: Int,
    params: HnswParams,
    distQ: (Array[Double], Int) => Double
) {
  import scala.collection.mutable

  private val adj =
    Array.fill(height)(mutable.HashMap.empty[Int, mutable.HashSet[Int]])
  private var entry = 0

  def addEdge(l: Int, a: Int, b: Int): Unit =
    adj(l).getOrElseUpdate(a, mutable.HashSet.empty) += b

  def setEntry(e: Int): Unit = entry = e

  /** k-NN search at every ef of `efs` (ref: py/hnsw.py:394-410), sharing
    * the ef-INDEPENDENT work: the upper-layer greedy descent routes with
    * ef=1 regardless of efSearch, so it runs once, then one layer-0 beam
    * per ef (ef ≤ 0 means the index default, raised to `topK`). Upper
    * layers route only — their result never enters W — so the descent is
    * unfiltered even in a filtered search, the hnswlib semantics: the
    * layer-0 walk routes through every node but only nodes `allow` admits
    * (every node when null) surface. Returns (ef, dist, localId) triples,
    * ascending (dist, id) within each ef.
    */
  def search(
      q: Array[Double],
      topK: Int,
      efs: Array[Int],
      allow: Int => Boolean = null
  ): Iterator[(Int, Double, Int)] = {
    if (n == 0) return Iterator.empty
    val dist = distQ(q, _: Int)
    def layer(l: Int): Int => Iterable[Int] = adj(l).getOrElse(_, Iterable.empty)
    var ep = entry
    var lc = height - 1
    while (lc > 0) {
      ep = HnswTraversal.searchLayer(dist, layer(lc), ep, 1).head._2
      lc -= 1
    }
    val ep0 = ep
    efs.iterator.flatMap { e =>
      val ef = math.max(if (e > 0) e else params.efSearch, topK)
      HnswTraversal.searchLayer(dist, layer(0), ep0, ef, allow)
        .iterator.take(topK).map { case (d, local) => (e, d, local) }
    }
  }
}

object LocalGraphSearcher {

  /** Uncompressed: exact L2² against the shard's raw vectors. */
  def raw(
      vecs: Array[Array[Double]],
      height: Int,
      params: HnswParams
  ): LocalGraphSearcher =
    new LocalGraphSearcher(
      vecs.length, vecs.headOption.fold(0)(_.length), height, params,
      (q, id) => KMeansLocal.l2Sq(q, vecs(id)))

  /** Compressed: asymmetric query-to-code distance over the shard's
    * PERSISTED codes (ref py/hnsw.py:184-189 — search compares raw query
    * to stored codes; it never re-encodes the corpus).
    */
  def compressed(
      codes: Array[Array[Short]],
      height: Int,
      params: HnswParams,
      c: VectorCompression
  ): LocalGraphSearcher =
    new LocalGraphSearcher(
      codes.length, codes.headOption.fold(0)(c.decode(_).length), height,
      params, (q, id) => c.queryDistance(q, codes(id)))
}
