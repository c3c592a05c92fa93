package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events stream (SURVEY.md §2.G —
  * all extension; the reference has no streaming). Each operator is the
  * streaming twin of a batch query already in the oracle suite, so
  * correctness is checked by running both over the same micro-batched
  * input and comparing (see StreamingSpec).
  *
  * Watermarks bound state: every aggregation here drops state once its
  * window falls behind the watermark, so state size is O(active windows ·
  * groups), independent of stream length — the property that matters when
  * the stream is 100 TB/day.
  */
object StreamingOps {

  /** Lowercase-hex md5 of the string's UTF-8 bytes — the exact Spark
    * `md5()` spelling, with a caller-held digest instance so per-window
    * calls in a hot kernel allocate nothing but the output.
    */
  private[graft] def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Parquet schema of the driver's events table when nanos are read as
    * longs (spark.sql.legacy.parquet.nanosAsLong=true).
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) as nanos-since-epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Streaming read of an events directory (one file = one micro-batch via
    * maxFilesPerTrigger=1), `ts` normalized to a session-TZ TIMESTAMP the
    * same way as the batch loader ([[graft.queries.Q.events]]). A streaming
    * source needs its schema up front, so peek at the existing files with a
    * one-off batch read to learn the physical `ts` type (long nanos in
    * older driver data, TIMESTAMP_NTZ micros in current). The peek FAILS
    * FAST when the directory has no readable files yet: silently assuming
    * one physical type would mis-normalize every batch of the query if
    * files of the other type later arrived.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = scala.util.Try(spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"readEvents: cannot determine the physical ts type of '$dir' — " +
          "the directory must hold at least one readable events parquet " +
          "file before the stream is defined (long nanos vs " +
          "TIMESTAMP_NTZ micros change the normalization)"))
    val schema = StructType(eventsRawSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1-hour windowed counts per event type with a 2-hour
    * watermark (late rows beyond it are dropped, state is bounded).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value")
      )

  /** Sliding windowed counts (1 h length / 15 min slide) — the streaming
    * twin of q30_sliding: each event lands in 4 overlapping windows
    * (map-side replication, the same `window()` operator), watermark
    * bounds state to ~2 h of open windows per type.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session (the streaming twin of the batch lag-based
    * sessionization in q16_sessions).
    */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("session_value")
      )

  /** Streaming exact dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours").dropDuplicates("event_id")

  final case class UserRunning(userId: Long, n: Long, total: Double)

  /** Custom state: per-user running event count + value total emitted on
    * every update (flatMapGroupsWithState, the §2.G stateful piece).
    */
  def runningPerUser(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { case (_, v) => n += 1; total += v }
          val next = UserRunning(userId, n, total)
          state.update(next)
          Iterator(next)
        }
      )
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * signups that happened within `window` before the purchase. Both sides
    * carry watermarks, and the time-interval condition bounds the join
    * state on both sides (rows age out once the watermark passes the
    * interval) — the property that keeps an unbounded stream-stream join's
    * state finite.
    */
  def purchaseSignupJoin(
      events: DataFrame,
      window: String = "1 day"
  ): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts")
      )
      .withWatermark("p_ts", "2 hours")
    val signups = events
      .filter(col("event_type") === "signup")
      .select(
        col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts")
      )
      .withWatermark("s_ts", "2 hours")
    purchases.join(
      signups,
      expr(
        s"p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - interval $window"
      )
    )
  }

  /** Incremental HNSW maintenance (§2.G's stateful piece): each micro-batch
    * appends its vectors to the shard-partitioned store, then rebuilds ONLY
    * the shards the batch touched and dynamic-partition-overwrites their
    * slice of the persisted index artifact. Shards are independent
    * (per-shard seeds), so an incrementally maintained shard is
    * bit-identical to the same shard in a from-scratch build — rebuild cost
    * per batch is proportional to touched-shard size, not corpus size.
    */
  def incrementalHnswSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      params: graft.operators.HnswParams,
      numShards: Int,
      seed: Long,
      storePath: String,
      indexPath: String,
      checkpoint: String,
      compression: Option[graft.operators.VectorCompression] = None
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.DistributedHnsw
        val spark = batch.sparkSession
        val b = batch
          .select(
            col(idCol).cast("long").as("id"),
            col(vecCol).cast("array<double>").as("vec")
          )
          .withColumn("shard", pmod(col("id"), lit(numShards)).cast("int"))
        b.write.mode("append").partitionBy("shard").parquet(storePath)
        val changed = b.select("shard").distinct()
          .collect().map(_.getInt(0)).toSeq
        if (changed.nonEmpty) {
          val touched = spark.read.parquet(storePath)
            .filter(col("shard").isin(changed: _*))
            .select(col("id"), col("vec"))
          // a compressed build regenerates the touched shards' slice of
          // the code table too — save()'s dynamic partition overwrite
          // replaces exactly those shards, so the streamed artifact stays
          // the compressed one search serves from
          val rebuilt = DistributedHnsw.build(
            touched, "id", "vec", params, numShards, seed, compression
          )
          // release the build caches once persisted — an unbounded stream
          // must not grow executor storage by one build per micro-batch
          try DistributedHnsw.save(rebuilt, indexPath)
          finally rebuilt.unpersist()
        }
      }
      .start()

  /** Incremental IVF maintenance: each micro-batch is assigned to its
    * coarse cell and APPENDED to the cell-partitioned index — IVF needs no
    * rebuild (cells are unordered bags), so streaming maintenance is pure
    * partitioned append and
    * [[graft.operators.IvfIndex.searchPartitioned]] over the growing
    * index is correct at every instant. Contrast [[incrementalHnswSink]],
    * where touched shards must re-run graph construction.
    */
  def incrementalIvfSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      indexPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.IvfIndex
          .assign(batch.sparkSession, batch, idCol, vecCol, centroids)
          .withColumn("gen", lit(0L)) // append-only contract: ids are new
          .write.mode("append").partitionBy("cell").parquet(indexPath)
      }
      .start()

  /** CDC apply sink — the streaming half of [[graft.operators.IvfIndex]]
    * maintenance. Each micro-batch carries an `op` column: `upsert` rows
    * (id, vec) replace any prior version of their id, `delete` rows kill
    * it. Per batch the upserts apply first, then the deletes (deletes win
    * within one micro-batch — the usual CDC compaction rule); both are
    * O(batch) work — a cell-partitioned append plus a tombstone-log
    * append, never an index rewrite — and
    * [[graft.operators.IvfIndex.searchPartitioned]] over the index is
    * correct between any two batches. Batch-twin spec: a streamed CDC
    * history answers exactly like the same history applied with batch
    * [[graft.operators.IvfIndex.upsert]]/
    * [[graft.operators.IvfIndex.delete]] calls.
    *
    * Producer contract: upserts apply before deletes only WITHIN one
    * micro-batch. Across batches the order is the order in which the
    * file source lists files, so a CDC wave whose delete file lands in an
    * earlier batch than its upsert file revives the ids it deletes. A
    * producer must make each wave arrive whole: stage its files outside
    * the watched directory, then move the staged directory in with one
    * `Files.move(..., ATOMIC_MOVE)` (StreamingSpec's `arriveWhole`).
    */
  def cdcIvfSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String,
      centroids: Array[Array[Double]],
      indexPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // one evaluation for both splits
        val ups = b.filter(col(opCol) === "upsert")
        val dels = b.filter(col(opCol) === "delete").select(col(idCol))
        if (!ups.isEmpty)
          graft.operators.IvfIndex
            .upsert(b.sparkSession, indexPath, ups, idCol, vecCol, centroids)
        if (!dels.isEmpty)
          graft.operators.IvfIndex.delete(b.sparkSession, indexPath, dels)
      }
      .start()

  /** CDC apply sink for the IVFADC residual-code index — same op-column
    * contract and ordering rule as [[cdcIvfSink]], applied through
    * [[graft.operators.IvfAdc.upsert]]/[[graft.operators.IvfAdc.delete]]
    * (shared LSM log; codebooks and coarse centroids stay fixed, the
    * batch only encodes). Same producer contract: upserts apply before
    * deletes only within one micro-batch, so each CDC wave must arrive
    * whole (staged outside the watched directory, then moved in with
    * `ATOMIC_MOVE`). The sink writes exactly the declared index and
    * tombstone-log schemas that [[graft.operators.IvfAdc.searchPartitioned]]
    * reads without inference; each file and tombstone a wave adds is
    * read by the next search's single scan of the probed cells and its
    * masking join.
    */
  def cdcIvfAdcSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String,
      centroids: Array[Array[Double]],
      model: graft.operators.PQModel,
      indexPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        val ups = b.filter(col(opCol) === "upsert")
        val dels = b.filter(col(opCol) === "delete").select(col(idCol))
        if (!ups.isEmpty)
          graft.operators.IvfAdc.upsert(
            b.sparkSession, indexPath, ups, idCol, vecCol, centroids, model)
        if (!dels.isEmpty)
          graft.operators.IvfAdc.delete(b.sparkSession, indexPath, dels)
      }
      .start()

  /** Incremental IVFADC maintenance: each micro-batch is assigned to its
    * coarse cell, the residual (vector − centroid) is PQ-encoded, and the
    * (id, cell, code) rows are APPENDED to the cell-partitioned
    * residual-code index, ids as bigint, in the index's declared schema.
    * Same argument as [[incrementalIvfSink]]: cells are unordered bags
    * and the codebooks are fixed at build time, so streaming maintenance
    * is pure partitioned append and
    * [[graft.operators.IvfAdc.searchPartitioned]] over the growing index
    * is correct at every instant — no rebuild, ever: each search scans
    * the probed cells' files once, whatever appended them.
    */
  def incrementalIvfAdcSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: graft.operators.PQModel,
      indexPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.IvfAdc
          .encode(batch.sparkSession, batch, idCol, vecCol, centroids, model)
          .withColumn("gen", lit(0L)) // append-only contract: ids are new
          .write.mode("append").partitionBy("cell").parquet(indexPath)
      }
      .start()

  /** Incremental vector ingestion: each micro-batch of (id, vec) rows is
    * appended to the shard-partitioned vector store that
    * [[graft.operators.DistributedHnsw.build]] consumes — the foreachBatch
    * half of streaming index maintenance (per-shard graph rebuild then
    * happens only for shards whose files changed).
    */
  /** Incremental kNN-GRAPH maintenance — the online counterpart of
    * [[graft.operators.NNDescent.knnGraph]], completing the lifecycle
    * symmetry with the IVF (append/CDC/split) and HNSW (rebuild-touched/
    * tombstone/compact) sinks. First micro-batch seeds the graph with a
    * full NN-Descent build; every later batch:
    *
    *   1. appends its vectors to the store,
    *   2. finds each NEW node's neighbors by [[NNDescent.beamSearch]]
    *      over the EXISTING graph (the HNSW-style insert route — O(batch ·
    *      beam · rounds) work, never a rebuild; the search collects the
    *      graph and the store into one broadcast in-memory graph, so the
    *      store is capped at `LocalGraph.MaxAuditNodes` = 200k nodes),
    *   3. adds a batch-local NN-Descent graph so intra-batch near pairs
    *      are not missed (new↔new edges beam search over old nodes cannot
    *      see),
    *   4. merges forward + reverse edges and re-caps every touched node
    *      at degree k with the bounded heap.
    *
    * The merged graph is localCheckpoint-ed before the overwrite so the
    * write never races its own input files. Degradation vs a full
    * rebuild is spec-gated (StreamingSpec: two-wave recall within a
    * fixed delta of the batch build).
    */
  def incrementalKnnGraphSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int,
      rounds: Int,
      storePath: String,
      graphPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.NNDescent
        import graft.functions.TopKAgg.bestPer
        val spark = batch.sparkSession
        val b = batch
          .select(
            col(idCol).cast("long").as("id"),
            col(vecCol).cast("array<double>").as("vec"))
          .localCheckpoint()
        val gp = new org.apache.hadoop.fs.Path(graphPath)
        val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasGraph = fs.exists(gp)
        // an empty trigger over an existing graph is a NO-OP: don't
        // reread and rewrite identical parquet once per idle trigger
        if (hasGraph && b.isEmpty) ()
        else {
        b.write.mode("append").parquet(storePath)
        val store = spark.read.parquet(storePath)
        // a persisted graph can legitimately be EMPTY (seed batch of 0-1
        // vectors: every hash draw is a self-edge) — min(src) is then
        // null, so route the degenerate case to a full rebuild instead
        // of dereferencing it
        val entryRow =
          if (hasGraph) spark.read.parquet(graphPath).agg(min(col("src"))).head
          else null
        val next =
          if (entryRow == null || entryRow.isNullAt(0)) {
            NNDescent.knnGraph(store, "id", "vec", k, iterations = 2)
          } else {
            val graph = spark.read.parquet(graphPath)
            val entry = entryRow.getLong(0)
            val cand = NNDescent
              .beamSearch(
                graph, store, "id", "vec",
                b.select(col("id").as("qid0"), col("vec").as("qv0")),
                "qid0", "qv0", k, beam, rounds, entry)
              .select(
                col("query_id").as("src"), col("neighbor_id").as("dst"),
                col("dist"))
            val local =
              if (b.count() > 1)
                NNDescent.knnGraph(b, "id", "vec", k, iterations = 2)
                  .select(col("src"), col("dst"), col("dist"))
              else spark.emptyDataFrame
                .select(lit(0L).as("src"), lit(0L).as("dst"),
                  lit(0.0).as("dist")).limit(0)
            val edges = cand.unionAll(local)
            val merged = graph
              .select(col("src"), col("dst"), col("dist"))
              .unionAll(edges)
              .unionAll(edges.select(
                col("dst").as("src"), col("src").as("dst"), col("dist")))
              .filter(col("src") =!= col("dst"))
              .groupBy(col("src"), col("dst"))
              .agg(min(col("dist")).as("dist"))
            bestPer(merged, Seq("src"), col("dist"), "dst", k)
              .withColumn("rnk", col("rnk").cast("long"))
          }
        // materialize BEFORE overwriting the files the plan reads
        val out = next.localCheckpoint()
        out.write.mode("overwrite").parquet(graphPath)
        }
      }
      .start()

  /** Streaming walk extension — knn_graph_walks ONLINE, completing the
    * walk tier's streaming symmetry: each arriving node starts one
    * DeepWalk trajectory over the maintained kNN graph (the artifact
    * [[incrementalKnnGraphSink]] keeps at `graphPath`). Every transition
    * coin is md5 over (salt, walk_id, step) — NO state beyond the graph
    * files, so a walk's trajectory is a pure function of (graph, id):
    * re-delivery is idempotent and streaming the starts in ANY wave
    * split over a fixed graph is bit-equal to one batch
    * [[graft.operators.RandomWalk.uniformWalks]] run over the union
    * (StreamingSpec pins the two-wave equality). Walks for nodes that
    * arrive AFTER a graph update walk the newer graph — the declared
    * online semantics (same as every serving sink here).
    */
  def walkExtendSink(
      stream: DataFrame, // one column: the arriving start-node id
      graphPath: String,
      steps: Int,
      salt: String,
      outPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch
          .select(col(batch.columns.head).cast("long").as("id"))
          .localCheckpoint()
        if (!b.isEmpty) {
          val graph = spark.read.parquet(graphPath)
          graft.operators.RandomWalk
            .uniformWalks(graph, b, steps, salt)
            .write.mode("append").parquet(outPath)
        }
      }
      .start()

  /** Streaming SCAN role census — knn_graph_scan ONLINE, the structural
    * half of the graph tier's streaming symmetry: each trigger appends
    * the arriving (src, dst) edges to the edge store and re-runs the
    * full role census ([[graft.operators.GraphAudit.scan]]) over the
    * accumulated graph, overwriting `outPath` with the current
    * (id, deg, role, cluster) table. Every σ ≥ ε decision is an exact
    * integer function of the edge SET alone (no RNG, no state beyond the
    * store), so the census after any wave split is bit-equal to the
    * batch scan over the union — re-delivery is idempotent and
    * StreamingSpec pins the two-wave equality. Universe = the endpoint
    * set of the accumulated edges (arrivals define the graph, the
    * maintained-sink convention).
    *
    * Scale: the per-trigger recompute is the batch operator itself —
    * the distributed wedge join over the store, then a collect of its
    * degree table and edge tables and the census on the driver — so the
    * accumulated graph is capped like the batch scan: above 200k nodes
    * ([[graft.operators.GraphAudit.scan]]'s node cap) or 2M undirected
    * edges a trigger fails by name. The declared maintenance cadence is
    * the micro-batch, matching the other maintained-artifact sinks (kNN
    * graph, IVF); between triggers the census is a standing parquet
    * artifact.
    */
  def scanCensusSink(
      stream: DataFrame, // (src, dst) arriving edges
      epsSqNum: Long,
      epsSqDen: Long,
      mu: Int,
      storePath: String,
      outPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch
          .select(
            col(batch.columns.head).cast("long").as("src"),
            col(batch.columns(1)).cast("long").as("dst"))
          .localCheckpoint()
        if (!b.isEmpty) {
          // batchId-keyed idempotent overwrite (r13 advice): foreachBatch
          // can re-deliver a batch after a failure; a bare append would
          // then double the batch in the store. The census stayed correct
          // only because scan() dedups edges, but the store is ALSO a
          // standing artifact — keying each batch to its own partition
          // dir makes re-delivery overwrite-in-place, so the store is a
          // true edge multiset for any future consumer.
          b.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          val edges = spark.read.parquet(storePath)
            .select(col("src"), col("dst"))
          val ids = edges.select(col("src").as("id"))
            .unionAll(edges.select(col("dst").as("id")))
            .distinct()
          val census = graft.operators.GraphAudit
            .scan(edges, ids, epsSqNum, epsSqDen, mu)
            .localCheckpoint() // materialize before overwriting inputs
          census.write.mode("overwrite").parquet(outPath)
        }
      }
      .start()

  def vectorAppendSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      numShards: Int,
      storePath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .select(
            col(idCol).cast("long").as("id"),
            col(vecCol).cast("array<double>").as("vec")
          )
          .withColumn("shard", pmod(col("id"), lit(numShards)).cast("int"))
          .write
          .mode("append")
          .partitionBy("shard")
          .parquet(storePath)
      }
      .start()

  /** Parquet schema of the driver's documents table. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Streaming read of a documents directory (one file = one micro-batch). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming test-set decontamination: drop every streamed document that
    * shares a word n-gram with a STATIC eval corpus — the online half of
    * [[graft.operators.Dedup.decontaminate]]. The eval shingle set is
    * computed once in batch and broadcast (eval corpora are small by
    * definition); the stream side is then a stateless per-row predicate —
    * no streaming state, no watermark, append-mode safe, arbitrarily
    * parallel. Shingling matches the batch operator exactly (space
    * tokenization, space-joined n-grams, docs shorter than n pass).
    */
  def decontaminateStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val evalSh = graft.operators.Dedup
      .shingles(evalDocs, idCol, textCol, n)
      .select(col("sh"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSet
    val bc = spark.sparkContext.broadcast(evalSh)
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ev = bc.value
        it.filter { case (_, text) =>
          val toks = text.split(" ", -1)
          var i = 0
          var hit = false
          while (!hit && i + n <= toks.length) {
            hit = ev.contains(toks.slice(i, i + n).mkString(" "))
            i += 1
          }
          !hit
        }
      }
      .toDF(idCol, textCol)
  }

  final case class SimBucket(ids: Array[Long], sims: Array[Long])

  /** Online SimHash near-duplicate DETECTION over a document stream: emit
    * the id of every streamed doc whose 64-bit SimHash is within
    * `maxHamming` of an EARLIER-ARRIVED doc sharing one of four 16-bit
    * signature bands — the online half of
    * [[graft.operators.Dedup.simhashPairs]], with identical banding
    * (candidate-complete at hamming <= 3 by pigeonhole) and verify math.
    *
    * Shape: each doc computes its signature per-row (bit-for-bit the batch
    * arithmetic: ±1 sums over md5-first-16-hex token hashes), explodes to
    * its four (band, sig16) bucket keys, and the stream groups by bucket —
    * state lives per bucket and holds only that bucket's signatures, so
    * state is as fine-grained as the LSH itself and buckets parallelize
    * arbitrarily. Verification against earlier members happens inside the
    * bucket (hamming over the full 64-bit signature); `prior.id < id`
    * guards the pair order so results are deterministic under re-delivery.
    * A doc near-dup in several bands is emitted once per hit bucket —
    * at-least-once semantics; downstream takes DISTINCT doc_id (the memory
    * few extra rows cost less than a cross-bucket streaming aggregation,
    * which append mode would disallow anyway).
    */
  def simhashDedupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      // the batch kernel itself (SimHash64Expr.computeSig) — batch and
      // stream signatures are bit-identical by construction
      .map { case (id, text) =>
        (id, graft.functions.SimHash64Expr.computeSig(text))
      }
      .flatMap { case (id, sim) =>
        (0 until 4).map(k => (k, (sim >>> (16 * k)) & 0xffffL, id, sim))
      }
      .groupByKey { case (half, sig, _, _) => (half, sig) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
            state: GroupState[SimBucket]) => {
          val prev = state.getOption.getOrElse(SimBucket(Array.empty, Array.empty))
          val seenIds = scala.collection.mutable.ArrayBuffer(prev.ids: _*)
          val seenSims = scala.collection.mutable.ArrayBuffer(prev.sims: _*)
          val known = scala.collection.mutable.HashSet(prev.ids: _*)
          val dups = scala.collection.mutable.ArrayBuffer.empty[Long]
          // arrival order within the batch = ascending id, matching the
          // batch operator's doc_a < doc_b pair orientation
          rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sim) =>
            if (known.add(id)) {
              var i = 0
              var hit = false
              while (!hit && i < seenIds.length) {
                hit = seenIds(i) < id &&
                  java.lang.Long.bitCount(seenSims(i) ^ sim) <= maxHamming
                i += 1
              }
              if (hit) dups += id
              seenIds += id
              seenSims += sim
            }
          }
          state.update(SimBucket(seenIds.toArray, seenSims.toArray))
          dups.iterator
        }
      )
      .toDF("doc_id")
  }

  /** Streaming FUZZY decontamination: drop every streamed document that is
    * MinHash-LSH near-duplicate (exact shingle Jaccard >= tau, candidates
    * from shared band signatures) to any doc in a STATIC eval corpus — the
    * online half of [[graft.operators.Dedup.decontaminateFuzzy]].
    *
    * The eval side is computed ONCE with the batch operators (band
    * signatures + per-doc shingle sets) and broadcast; eval corpora are
    * small by definition. The stream side is then a stateless per-row
    * kernel — shingle, minhash, band, bucket-probe, exact-Jaccard verify —
    * so there is no streaming state, no watermark, and the filter is
    * append-mode safe and arbitrarily parallel. The per-row minhash
    * reproduces the batch arithmetic bit-for-bit (md5 first-14-hex-chars
    * mod P, then ((2i+1)·x + 12289·i) mod P per permutation), so a doc is
    * dropped here exactly when the batch operator marks it contaminated.
    */
  def decontaminateFuzzyStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5
  ): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numPerms / bands
    val evalSh = graft.operators.Dedup.shingles(evalDocs, idCol, textCol, n)
    // (band, sig) -> eval doc ids sharing that bucket
    val evalBuckets: Map[(Int, String), Array[Long]] =
      graft.operators.Dedup
        .bandSignatures(evalSh, numPerms, bands)
        .select(col("doc_id"), col("band"), col("sig"))
        .as[(Long, Int, String)]
        .collect()
        .groupBy(r => (r._2, r._3))
        .map { case (k, rs) => k -> rs.map(_._1).distinct }
    // eval doc id -> its distinct shingle set (for the exact verify)
    val evalSets: Map[Long, Set[String]] = evalSh
      .as[(Long, String)]
      .collect()
      .groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._2).toSet }
    val bcBuckets = spark.sparkContext.broadcast(evalBuckets)
    val bcSets = spark.sparkContext.broadcast(evalSets)
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val buckets = bcBuckets.value
        val sets = bcSets.value
        val md = java.security.MessageDigest.getInstance("MD5")
        // batch md5Long: first 14 hex chars (= 7 bytes) of md5, base 16
        def md5Mod(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          v % 1000000007L
        }
        it.filter { case (_, text) =>
          val toks = text.split(" ", -1)
          if (toks.length < n) true // shorter than n ⇒ no shingles ⇒ clean
          else {
            val sh = new scala.collection.mutable.HashSet[String]
            var i = 0
            while (i + n <= toks.length) {
              val sb = new StringBuilder(toks(i))
              var j = 1
              while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
              sh += sb.result()
              i += 1
            }
            val mins = Array.fill(numPerms)(Long.MaxValue)
            sh.foreach { s =>
              val x = md5Mod(s)
              var p = 0
              while (p < numPerms) {
                val v = ((2L * p + 1) * x + 12289L * p) % 1000000007L
                if (v < mins(p)) mins(p) = v
                p += 1
              }
            }
            var contaminated = false
            val seen = new scala.collection.mutable.HashSet[Long]
            var bd = 0
            while (!contaminated && bd < bands) {
              val sig = (bd * rowsPerBand until (bd + 1) * rowsPerBand)
                .map(mins(_).toString)
                .mkString(",")
              buckets.get((bd, sig)).foreach { cands =>
                var c = 0
                while (!contaminated && c < cands.length) {
                  if (seen.add(cands(c))) {
                    val ev = sets(cands(c))
                    val inter = sh.count(ev.contains)
                    val jac =
                      inter.toDouble / (sh.size + ev.size - inter).toDouble
                    contaminated = jac >= tau
                  }
                  c += 1
                }
              }
              bd += 1
            }
            !contaminated
          }
        }
      }
      .toDF(idCol, textCol)
  }

  /** Streaming span-level decontamination scrub — the online twin of
    * [[graft.operators.Dedup.contaminatedSpans]] +
    * [[graft.operators.Dedup.scrubSpans]]: every streamed doc has its
    * eval-leaked character spans (any length-`w` window appearing
    * verbatim in the STATIC eval corpus) located, merged and cut before
    * it lands — ingest-time hygiene instead of a post-hoc sweep.
    *
    * The eval side is computed once with the batch rolling-hash kernel
    * and broadcast as a SORTED (rolling-hash, md5) pair table (8 + 32
    * bytes per distinct eval window — the same budget argument as
    * [[decontaminateFuzzyStream]]'s eval artifacts; the Bloom move of
    * `decontaminateBloom` drops in if an eval corpus ever outgrows it).
    * The stream side is then a STATELESS per-row kernel — roll,
    * binary-search probe, island-merge, reassemble — no streaming state,
    * no watermark, append-safe, arbitrarily parallel.
    *
    * Because this path is DESTRUCTIVE, a rolling-hash hit alone never
    * cuts text: the candidate window's md5 must ALSO match the eval
    * window's md5 (two independent hash families — the polynomial
    * kernel's structured collision classes, e.g. Thue–Morse-style
    * inputs, don't transfer to md5, so a false cut needs a simultaneous
    * collision in both, i.e. effectively an md5 second-preimage). The
    * md5 is computed only for rolling-hash HITS, so clean text pays
    * nothing. The batch [[graft.operators.Dedup.contaminatedSpans]]
    * verifies candidates VERBATIM instead (it can afford the string
    * join); the two agree everywhere except under such a double
    * collision, where batch is exact and the stream may still cut.
    *
    * Hash arithmetic and merge semantics otherwise reproduce the batch
    * operators bit-for-bit (same
    * [[graft.functions.RollingHashWindowsExpr]] kernel, same
    * overlap-or-adjacent merge rule, code-point offsets), so a streamed
    * doc scrubs to exactly the batch clean_text.
    *
    * Returns (doc_id, clean_text, n_spans, removed_chars).
    */
  def scrubSpansStream(
      docs: DataFrame, // streaming (idCol, textCol)
      evalDocs: DataFrame, // static eval corpus
      idCol: String,
      textCol: String,
      w: Int = 20
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.RollingHashWindowsExpr
    // one (rolling-hash, window-md5) row per distinct eval window,
    // computed with the SAME JVM kernel the stream side probes with
    val evPairs: Array[(Long, String)] = evalDocs
      .select(col(textCol))
      .as[String]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { t =>
          if (t == null) Iterator.empty
          else {
            val hs = RollingHashWindowsExpr.computeLongs(t, w)
            val cps = t.codePoints().toArray()
            Iterator.tabulate(hs.length) { i =>
              (hs(i), StreamingOps.md5Hex(md, new String(cps, i, w)))
            }
          }
        }
      }
      .distinct()
      .collect()
      .sorted
    val evH: Array[Long] = evPairs.map(_._1)
    val evM: Array[String] = evPairs.map(_._2)
    val bc = spark.sparkContext.broadcast((evH, evM))
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (ev, evMd5) = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map {
          case (id, null) => (id, null: String, 0L, 0L) // null docs pass through like the batch operator
          case (id, text) =>
          val hs = RollingHashWindowsExpr.computeLongs(text, w)
          lazy val cpsAll = text.codePoints().toArray()
          // a rolling-hash hit is only a CANDIDATE: the window md5 must
          // also match one of the eval md5s recorded for that hash
          def verified(i: Int): Boolean = {
            var lo = java.util.Arrays.binarySearch(ev, hs(i))
            if (lo < 0) false
            else {
              while (lo > 0 && ev(lo - 1) == hs(i)) lo -= 1
              val m = StreamingOps.md5Hex(md, new String(cpsAll, i, w))
              var ok = false
              var j = lo
              while (!ok && j < ev.length && ev(j) == hs(i)) {
                if (evMd5(j) == m) ok = true
                j += 1
              }
              ok
            }
          }
          // 1-based inclusive code-point spans, merged as they stream by
          // (positions arrive in increasing s; overlap-or-adjacent joins
          // the previous island — identical to the batch mergeSpans rule)
          val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var i = 0
          while (i < hs.length) {
            if (verified(i)) {
              val s = i + 1
              val e = i + w
              if (spans.nonEmpty && s <= spans.last._2 + 1) {
                val last = spans.last
                spans(spans.length - 1) = (last._1, math.max(last._2, e))
              } else spans += ((s, e))
            }
            i += 1
          }
          if (spans.isEmpty) (id, text, 0L, 0L)
          else {
            val cps = cpsAll
            val kept = new java.lang.StringBuilder
            var pos = 1
            spans.foreach { case (s, e) =>
              var j = pos
              while (j < s) { kept.appendCodePoint(cps(j - 1)); j += 1 }
              pos = e + 1
            }
            var j = pos
            while (j <= cps.length) { kept.appendCodePoint(cps(j - 1)); j += 1 }
            val removed = spans.iterator.map { case (s, e) => (e - s + 1).toLong }.sum
            (id, kept.toString, spans.length.toLong, removed)
          }
        }
      }
      .toDF("doc_id", "clean_text", "n_spans", "removed_chars")
  }

  /** Streaming count-min sketch — the online half of `text_cms`: the
    * d×w counter matrix maintained as an UPDATE-mode streaming
    * aggregation on (row, bucket). This is the textbook case where a
    * watermark-free streaming agg is CORRECT: the key space is the
    * sketch geometry itself, so state is exactly d·w counters no matter
    * how long the stream runs — the bounded-state property that makes
    * CMS a streaming structure is realized by the engine's own agg
    * state. Counts only grow, so the latest emission per cell is the
    * sketch; estimates read est(x) = min_j cell(j, h_j(x)) exactly as in
    * batch, and the md5 bucket hashes are bit-identical to the batch
    * operator, so a drained stream equals the batch sketch cell for
    * cell.
    */
  def cmsStream(
      docs: DataFrame, // streaming (… textCol …)
      textCol: String,
      depth: Int = 4,
      width: Int = 512
  ): DataFrame = {
    val js = expr(s"array(${(0 until depth).mkString(",")})")
    docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(explode(js).as("j"), col("tok"))
      .select(
        col("j"),
        pmod(
          graft.operators.Dedup.md5Long(
            concat(col("j").cast("string"), lit(":"), col("tok"))),
          lit(width)
        ).as("b"))
      .groupBy(col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Streaming leakage-safe split routing — the online half of
    * [[graft.operators.Dedup.leakSafeSplit]]: each arriving doc is
    * assigned train/val by the md5 coin on its near-dup CLUSTER
    * representative, looked up in a STATIC component table (computed by
    * the batch clustering over the reference corpus; docs absent from it
    * are singletons and split on their own id). Stateless stream-static
    * left join + hash — append-safe, and identical decisions to the
    * batch operator on the same component table, so a doc routes to the
    * same side whether it arrived in the batch build or on the stream.
    *
    * No broadcast hint on `comp`: the table is pair-survivor-sized — it
    * scales with the corpus's near-dup pairs, not with a fixed artifact
    * budget — so the planner (or an explicit `broadcast()` by a caller
    * who KNOWS their component table is small) decides; a stream-static
    * shuffled join is correct either way.
    */
  def leakSafeSplitStream(
      docs: DataFrame, // streaming (idCol, …)
      comp: DataFrame, // static (doc_id, rep_id) from connectedComponents
      idCol: String,
      trainPct: Int = 90,
      salt: String = "holdout"
  ): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct")
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(comp.select(col("doc_id"), col("rep_id")),
        Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .select(
        col("doc_id"), col("rep_id"),
        when(
          pmod(
            graft.operators.Dedup.md5Long(
              concat(col("rep_id").cast("string"), lit(s":$salt"))),
            lit(100)
          ) < trainPct,
          lit("train")
        ).otherwise(lit("val")).as("split"))
  }

  /** Streaming multilingual temperature rebalancing — the online half of
    * `pipeline_temperature`: per-language acceptance rates are computed
    * ONCE from a static reference corpus (the rate table is a
    * languages-sized artifact, broadcast via the join) and each streamed
    * doc flips the engine's standard md5 coin against its language's
    * rate — stateless, append-safe, bit-identical to the batch filter on
    * the same rates. At ingest scale the rates would be refreshed
    * periodically from corpus stats; the coin keeps every decision
    * deterministic and rerunnable regardless.
    */
  def temperatureSampleStream(
      docs: DataFrame, // streaming (idCol, langCol, …)
      rates: DataFrame, // static (lang, rate) — e.g. the batch rate table
      idCol: String,
      langCol: String
  ): DataFrame = {
    val u = (graft.operators.Dedup.md5Long(
      concat(col(idCol).cast("string"), lit(":temp"))) % 1000000)
      .cast("double") / lit(1000000.0)
    docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"), u.as("u"))
      .join(broadcast(rates.select(col("lang"), col("rate"))), "lang")
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("lang"), col("rate"), col("u"))
  }

  /** Streaming RP-tree leaf assignment — incremental maintenance of the
    * tree-forest index: new vectors descend the batch-built median
    * tables ([[graft.operators.RpTree.assignPoints]] — `depth`
    * stream-static broadcast joins against the ≤ numTrees·2^depth-row
    * artifact, the stream never shuffles) and land in exactly the leaf
    * the build would have given them, so appending the assignments to
    * the leaf table keeps forest search correct as the corpus grows —
    * the same pure-append maintenance story as the IVF cell sink.
    * Stateless, re-delivery idempotent; StreamingSpec pins streamed ==
    * build assignment bit for bit.
    */
  def rptAssignStream(
      vecs: DataFrame, // streaming (idCol, vecCol)
      medians: DataFrame, // static (level, tree, node, med) from RpTree.build
      idCol: String,
      vecCol: String,
      numTrees: Int,
      depth: Int,
      dim: Int
  ): DataFrame =
    graft.operators.RpTree.assignPoints(
      vecs, medians, idCol, vecCol, numTrees, depth, dim)

  /** Streaming video frame-hash signatures — the extraction stage of
    * mm_video_dedup online: every arriving container decodes frame by
    * frame through the real codec and emits its (id, frame, hashHi,
    * hashLo) rows ([[graft.multimodal.Multimodal.videoFrameHashes]] is a
    * pure per-row flatMap — zero state, zero shuffle, re-delivery
    * idempotent). The pair stage stays batch (set-Jaccard needs the
    * corpus); appending streamed signatures to the signature table is
    * the same pure-append maintenance as the RP-tree leaf sink.
    */
  def videoHashStream(
      media: DataFrame // streaming (id, content)
  ): DataFrame =
    graft.multimodal.Multimodal
      .videoFrameHashes(media.sparkSession, media).toDF()

  /** Streaming PCA projection/whitening — embed_pca's scoring half
    * online: arriving vectors project onto the pre-fit broadcast
    * [[graft.operators.Pca.PcaModel]] components (train once in batch —
    * the moments need the standing corpus — score forever on the
    * stream). Pure per-row map against d·p broadcast doubles: zero
    * state, zero shuffle, re-delivery idempotent, bit-equal to the
    * batch [[graft.operators.Pca.projectCol]]/`whitenCol` kernels.
    */
  def pcaProjectStream(
      vecs: DataFrame, // streaming (idCol, vecCol array<double>)
      model: graft.operators.Pca.PcaModel,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val p = model.components.length
    val cols = (0 until p).flatMap { k =>
      Seq(
        graft.operators.Pca.projectCol(model, col(vecCol), k).as(s"pc${k + 1}"),
        graft.operators.Pca.whitenCol(model, col(vecCol), k).as(s"w${k + 1}"))
    }
    vecs.select(col(idCol) +: cols: _*)
  }

  /** Streaming Gopher-rules gate — text_gopher_filters online: the
    * MassiveText heuristic stack is pure per-row column arithmetic
    * (word/line censuses + fixed thresholds, no corpus state), so the
    * stream twin is the batch operator applied per micro-batch:
    * stateless, re-delivery idempotent, bit-equal.
    */
  def gopherFilterStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String
  ): DataFrame =
    graft.operators.TextAnalysis.gopherStats(docs, idCol, textCol)

  /** Streaming scene-cut gate — mm_scene_cuts online: each arriving
    * video row is self-contained (its frames stream through the decode
    * kernel, the lag carried in-iterator), so the stream twin IS the
    * batch operator applied per micro-batch: stateless, re-delivery
    * idempotent, bit-equal.
    */
  def sceneCutStream(
      media: DataFrame, // streaming (id long, content binary)
      tau: Int
  ): DataFrame =
    graft.multimodal.Multimodal.sceneCuts(media.sparkSession, media, tau)

  /** Streaming term-blocklist gate — text_blocklist online: the
    * dictionary rides the plan as a broadcast literal (blocklists are
    * maintenance-sized by contract, ~10⁴ terms; a corpus-scale
    * million-term dictionary stays on the batch dictionary-JOIN path)
    * and each arriving doc censuses its own tokens against it with
    * per-row HOF arithmetic — stateless, re-delivery idempotent, and
    * column-for-column bit-equal to
    * [[graft.operators.TextAnalysis.blocklistStats]] (same token split,
    * case fold, hit counts, and division).
    */
  def blocklistAdmitStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      terms: Seq[String],
      maxHitFrac: Double
  ): DataFrame = {
    val dict = typedLit(terms.map(_.toLowerCase).distinct.sorted)
    val toks = transform(
      filter(split(col(textCol), " "), w => w =!= ""), w => lower(w))
    val matched = filter(toks, w => array_contains(dict, w))
    docs
      // batch blocklistStats never emits a row for a zero-token doc (it
      // vanishes at the explode); match that contract instead of emitting
      // n_tokens=0 with NULL hit_frac/keep
      .filter(size(toks) > 0)
      .select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(matched).cast("long").as("n_hits"),
      size(array_distinct(matched)).cast("long").as("n_terms"),
      round(size(matched).cast("double") / size(toks), 6).as("hit_frac"),
      (size(matched).cast("double") / size(toks) <= maxHitFrac).as("keep"))
  }

  /** Streaming PCA-residual outlier gate — embed_pca_outlier online:
    * arriving vectors score their reconstruction error off the
    * pre-fit broadcast subspace and flag against a FIXED threshold
    * (calibrated in batch, e.g. 2·mean(resid) of the standing corpus —
    * the threshold must be frozen: a per-batch mean would make
    * admission depend on batch composition). Stateless map,
    * re-delivery idempotent, bit-equal to the batch residual kernel.
    */
  def pcaOutlierStream(
      vecs: DataFrame, // streaming (idCol, vecCol array<double>)
      model: graft.operators.Pca.PcaModel,
      threshold: Double,
      idCol: String,
      vecCol: String
  ): DataFrame =
    vecs.select(
      col(idCol),
      graft.operators.Pca.residualCol(model, col(vecCol)).as("resid"),
      (graft.operators.Pca.residualCol(model, col(vecCol)) > threshold)
        .as("is_outlier"))

  /** Streaming exemplar attribution — the serving half of the selection
    * tier: arriving vectors are attributed to their best exemplar from
    * the broadcast pick set (max sim, ties to the lowest pick id), the
    * same struct-max kernel as [[graft.operators.FacilityLocation
    * .coverage]]'s batch attribution. Stateless; the per-pick coverage
    * REPORT stays batch (it needs the corpus aggregate).
    */
  def exemplarAssignStream(
      vecs: DataFrame, // streaming (idCol, vecCol array<double>)
      picks: Array[(Long, Seq[Double])],
      idCol: String,
      vecCol: String
  ): DataFrame = {
    import graft.functions.VectorExpressions.dotFast
    require(picks.nonEmpty, "empty pick set")
    def l2NormLocal(c: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    val cands = picks.map { case (pid, c) =>
      struct(
        ((lit(1.0) + dotFast(col(vecCol), typedLit(c)) /
          (col("nrm") * lit(l2NormLocal(c)))) / 2.0).as("sim"),
        lit(-pid).as("negpid"))
    }
    vecs
      .withColumn("nrm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .select(col(idCol),
        element_at(sort_array(array(cands: _*), asc = false), 1).as("b"))
      .select(col(idCol), (-col("b.negpid")).as("center_id"),
        col("b.sim").as("sim"))
  }

  /** Streaming audio window fingerprints — mm_audio_dedup's extraction
    * stage online; same stateless per-row argument as
    * [[videoHashStream]], integer-exact energies.
    */
  def audioFingerprintStream(
      media: DataFrame, // streaming (id, modality, content, metaLen)
      windowFrames: Int
  ): DataFrame =
    graft.multimodal.Multimodal
      .audioEnergy(media.sparkSession, media, windowFrames).toDF()

  /** Online near-dup ADMISSION against the standing corpus — the #1
    * streaming-dedup shape (is this arriving document a near-duplicate
    * of anything already ingested?), as a stateless stream-STATIC
    * multi-probe SRP join: arriving vectors compute their band
    * signatures per row (plan-literal hyperplanes), probe each band's
    * exact bucket plus its 1-bit flips, equi-join the corpus's static
    * signature index (stays partitioned executor-side — the corpus is
    * never broadcast or collected), re-join corpus vectors for the
    * exact cosine verify. Zero streaming state; a pair matching in
    * several bands emits once per matching probe (at-least-once within
    * the result — downstream `distinct` or any idempotent sink
    * collapses it), and re-delivery reproduces identical rows.
    *
    * @param vecs   streaming (idCol, vecCol)
    * @param corpus static (idCol, vecCol) — the standing index side
    * @return (id, corpus_id, cosine) for matches with cosine >= tau
    */
  def embeddingAdmitStream(
      vecs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      dim: Int,
      numPlanes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    import graft.functions.VectorExpressions._
    import graft.operators.Dedup
    val corpusSigs = Dedup
      .srpBandSigs(corpus, idCol, vecCol, numPlanes, bands, dim)
      .select(col("band"), col("sig"), col("id").as("corpus_id"))
    val corpusVecs = corpus.select(
      col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dotFast(col("cv"), col("cv"))))
    val probed = Dedup
      .withSigProbes(
        Dedup.srpBandSigs(vecs, idCol, vecCol, numPlanes, bands, dim,
          carryVec = true),
        numPlanes / bands)
      .select(col("id"), col("v"), col("band"), col("psig").as("sig"))
    probed
      .join(corpusSigs, Seq("band", "sig"))
      .join(corpusVecs, "corpus_id")
      .select(
        col("id"), col("corpus_id"),
        (dotFast(col("v"), col("cv"))
          / (sqrt(dotFast(col("v"), col("v"))) * col("cn"))).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Streaming DSIR scoring — the online quality gate of the
    * pipeline_dsir stage: the B-bucket log-ratio LM is trained ONCE in
    * batch ([[graft.operators.Dsir.logRatioTable]]) and rides the plan
    * as a bounded B-double array literal; every arriving doc folds its
    * own unigram+bigram feature array through a DECIMAL(38,20)
    * accumulator ([[graft.operators.Dsir.scoreRow]]) — zero shuffle,
    * zero state, re-delivery-idempotent, and bit-equal to the batch
    * weights because decimal addition is exact (the fold order vs the
    * batch aggregation order cannot matter). StreamingSpec pins
    * two-wave == batch.
    */
  def dsirScoreStream(
      docs: DataFrame, // streaming (idCol, textCol)
      terms: Seq[Double], // logRatioTable's B terms in bucket order
      idCol: String,
      textCol: String
  ): DataFrame =
    graft.operators.Dsir.scoreRow(docs, terms, idCol, textCol)

  /** Streaming C4 page filter + scrub — the online half of the
    * text_c4_scrub stage: the SAME zero-state per-row HOF pipeline
    * ([[graft.operators.TextAnalysis.c4Scrub]] delegates unchanged —
    * line census, page flags, kept-lines rewrite are all row-local
    * expressions, so the batch operator IS streaming-safe), applied to
    * an append stream. Stateless and append-only: every page decides
    * alone, re-delivery re-produces the identical row, and the batch
    * twin is bit-equal by construction (StreamingSpec pins it anyway —
    * the guard is against someone later adding corpus-level state, the
    * one thing that would break the stream path).
    */
  def c4ScrubStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      minWords: Int = 3,
      minKeptLines: Int = 3
  ): DataFrame =
    graft.operators.TextAnalysis
      .c4Scrub(docs, idCol, textCol, minWords, minKeptLines)

  /** Streaming winnowing-fingerprint extraction — the online half of
    * text_winnow / dedup_winnow: each arriving document emits its
    * selected (pos, fp) rows via the ROW-LOCAL spelling
    * ([[graft.operators.Dedup.winnowFingerprintsRow]] — the per-doc
    * window rewritten as `transform`/`slice`/`array_min` HOFs, since a
    * per-doc window partition is not streamable), bit-equal to the batch
    * operator (StreamingSpec pins it). Stateless and append-only;
    * signatures flow into the same capped inverted-index pair join
    * downstream.
    */
  def winnowSignatureStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4
  ): DataFrame =
    graft.operators.Dedup.winnowFingerprintsRow(docs, idCol, textCol, k, w)

  /** Streaming unigram-LM encoding — the online tokenizer pass: each
    * arriving document is Viterbi-segmented under a batch-trained
    * [[graft.operators.TextAnalysis.UnigramModel]] (driver-small, ships
    * in the task closure) with the SAME per-partition DP kernel as the
    * batch half ([[graft.operators.TextAnalysis.unigramEncode]]
    * delegates unchanged — per-row, zero state), so batch and stream
    * are bit-equal by construction (StreamingSpec pins it). The
    * batch-frozen-model discipline matches pcaOutlierStream /
    * exemplarAssignStream: training stays offline, serving is online.
    */
  def unigramEncodeStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      model: graft.operators.TextAnalysis.UnigramModel,
      maxPieceLen: Int = 4
  ): DataFrame =
    graft.operators.TextAnalysis
      .unigramEncode(docs, idCol, textCol, model, maxPieceLen)

  /** Streaming WordPiece encoding under a batch-trained vocabulary —
    * the third tokenizer serving stream next to the BPE and unigram
    * twins, and the same argument: the greedy longest-match kernel is a
    * pure per-row mapPartitions over a frozen driver-small model (a
    * plain string set — nothing ulp-sensitive, so batch-frozen state
    * cannot drift), zero shuffle, zero state. StreamingSpec pins
    * bit-equality to [[graft.operators.TextAnalysis.wordPieceEncode]]
    * on the same rows.
    */
  def wordPieceEncodeStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      vocab: Set[String]
  ): DataFrame =
    graft.operators.TextAnalysis.wordPieceEncode(docs, idCol, textCol, vocab)

  /** Streaming spherical assignment under batch-fit frozen unit
    * centroids — the online half of kmeans_spherical_assign (the
    * SemDeDup blocking signal for arriving embeddings): normalize +
    * broadcast argmin scan + cosine, all row-local map expressions,
    * zero shuffle, zero state. Delegates to
    * [[graft.operators.SphericalKMeans.assign]] verbatim, so batch and
    * stream are bit-equal by construction (StreamingSpec pins it).
    */
  def sphericalAssignStream(
      vecs: DataFrame, // streaming (idCol, vecCol)
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]
  ): DataFrame =
    graft.operators.SphericalKMeans.assign(vecs, idCol, vecCol, centroids)

  /** Streaming standing-query relevance scoring — Dirichlet
    * query-likelihood of every ARRIVING document against a fixed query
    * under batch-frozen collection statistics (per-term cf + |C|): the
    * online router ("send docs relevant to THIS topic to THIS sink").
    * Delegates to the row-local
    * [[graft.operators.TextSearch.queryLikelihoodRow]] — per-row token
    * counts, a scale-preserving decimal fold, zero shuffle, zero state —
    * and is bit-equal to the batch ranking's scores on the same rows
    * (StreamingSpec pins it).
    */
  def qldScoreStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      terms: Seq[String],
      cf: Map[String, Long],
      ctot: Long,
      mu: Double = 100.0
  ): DataFrame =
    graft.operators.TextSearch
      .queryLikelihoodRow(docs, idCol, textCol, terms, cf, ctot, mu)

  /** Streaming TextRank keyword-salience scoring under a batch-computed
    * top-K keyword table (word → pr, driver-small, ships as a map
    * literal) — the curriculum/selection signal served online: each
    * arriving document gets its keyword-hit count and decimal-routed
    * salience sum. Delegates to the row-local
    * [[graft.operators.TextRank.salience]] expression verbatim — per
    * row, zero shuffle, zero state — so batch and stream are bit-equal
    * by construction (StreamingSpec pins it).
    */
  def textRankSalienceStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      keywords: Map[String, Double]
  ): DataFrame =
    graft.operators.TextRank.salience(docs, idCol, textCol, keywords)

  /** Streaming winnow-fingerprint admission gate — the TEXT analog of
    * [[embeddingAdmitStream]]: every arriving document is checked
    * against a STATIC corpus for fingerprint containment. The corpus
    * side is batch state (winnow fingerprints, df-capped to the
    * discriminative universe — the dedup_winnow discipline — plus each
    * corpus doc's capped fingerprint set); the stream side extracts its
    * fingerprint array ROW-LOCALLY (the winnowFingerprintsRow HOF
    * spelling, no per-doc window), joins the capped inverted index
    * stream-static for candidates, dedupes the (new, corpus) pair, and
    * scores containment = |new ∩ corpus_capped| / |corpus_capped|
    * exactly, row-local via array_intersect. Emits one row per flagged
    * pair: (id, corpus_id, shared, containment ≥ tau) — a near-verbatim
    * carrier of a known document. Every op is stream-safe (the pair
    * dedup is the only state), and the SAME function run on a batch
    * frame is the gate's batch twin (StreamingSpec pins equality).
    */
  def winnowAdmitStream(
      docs: DataFrame, // streaming OR batch (idCol, textCol)
      corpus: DataFrame, // static (idCol, textCol)
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      tau: Double = 0.8,
      maxDfAbs: Int = 1000
  ): DataFrame = {
    import graft.operators.Dedup
    val corpFp = Dedup
      .winnowFingerprints(corpus, idCol, textCol, k, w)
      .select(col("doc_id").as("corpus_id"), col("fp"))
      .distinct()
      .localCheckpoint()
    val keep = corpFp
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDfAbs)
      .select(col("fp"))
    val corpIdx = corpFp.join(keep, "fp").localCheckpoint()
    val corpSets = corpIdx
      .groupBy(col("corpus_id"))
      .agg(sort_array(collect_set(col("fp"))).as("cfps"),
        count(lit(1)).as("nc"))
    val fps = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .withColumn("m", length(col("txt")) - (k - 1))
      .filter(col("m") >= 1)
      .withColumn(
        "kks",
        expr(s"""transform(sequence(1, m), p ->
                 concat(substring(md5(substring(txt, p, $k)), 1, 8),
                        lpad(cast(1000000000 - p AS string), 10, '0')))"""))
      .withColumn(
        "sfps",
        expr(s"""array_distinct(transform(
                   transform(sequence(1, greatest(1, m - ${w - 1})),
                     i -> array_min(slice(kks, i, $w))),
                   s -> substring(s, 1, 8)))"""))
      .select(col("id"), col("sfps"), explode(col("sfps")).as("fp"))
    fps
      .join(corpIdx, "fp")
      .select(col("id"), col("corpus_id"), col("sfps"))
      .dropDuplicates("id", "corpus_id")
      .join(corpSets, "corpus_id")
      .select(
        col("id"), col("corpus_id"),
        size(array_intersect(col("sfps"), col("cfps")))
          .cast("long").as("shared"),
        col("nc"))
      .withColumn("containment",
        col("shared").cast("double") / col("nc"))
      .filter(col("containment") >= tau)
      .select(col("id"), col("corpus_id"), col("shared"), col("containment"))
  }

  /** Streaming hashing-trick featurizer — the online half of
    * text_feature_hash: per-doc bucket term counts are row-local
    * (vocabulary-free, the hashing trick's point), idf is corpus state
    * and therefore BATCH-FROZEN (the pcaOutlierStream discipline: train
    * offline, serve the snapshot online). Bit-equal to the batch
    * featurizer under the same idf table (StreamingSpec pins it).
    */
  def featureHashStream(
      docs: DataFrame, // streaming (idCol, textCol)
      idCol: String,
      textCol: String,
      idf: Map[Long, Double],
      numBuckets: Int = 16
  ): DataFrame =
    graft.operators.TextAnalysis
      .hashedTfidfRow(docs, idCol, textCol, idf, numBuckets)

  final case class FunnelState(stage: Int, tsUs: Long)

  /** Streaming conversion funnel — the stateful twin of `q28_funnel`'s
    * min-ts chain. Per-user state is just (stage reached, ts of the
    * advancing event): O(1) per user forever. Each micro-batch sorts ITS
    * OWN group slice by (ts, event_id) and replays the greedy advance —
    * "first `stages(i)` event strictly after the stage-i−1 time" — which
    * on time-ordered delivery is exactly the batch min-ts chain (the
    * first qualifying event in time order IS the minimum). Emits the
    * user's current (stage, ts) each time the group sees data; downstream
    * keeps the latest row per user. Late events older than the user's
    * current stage time cannot retract an advance (documented at-most-
    * monotone semantics — the batch twin is the arbiter on replay).
    */
  def funnelStream(
      events: DataFrame,
      stages: Seq[String]
  ): Dataset[(Long, Int, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val n = stages.length
    val stageArr = stages.toArray
    events
      .select(
        col("user_id").cast("long"),
        col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long")
      )
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, String, Long, Long)],
         state: GroupState[FunnelState]) => {
          var st = state.getOption.map(_.stage).getOrElse(0)
          var ts = state.getOption.map(_.tsUs).getOrElse(Long.MinValue)
          val evs = it.toArray.sortBy(e => (e._3, e._4))
          var i = 0
          while (i < evs.length) {
            val (_, typ, t, _) = evs(i)
            if (st < n && typ == stageArr(st) && (st == 0 || t > ts)) {
              st += 1
              ts = t
            }
            i += 1
          }
          state.update(FunnelState(st, ts))
          Iterator.single((uid, st, ts))
        })
      .toDF("user_id", "stage", "ts_us")
      .as[(Long, Int, Long)]
  }

  final case class MGState(toks: Array[String], ests: Array[Long], dec: Long)

  /** Online Misra-Gries heavy hitters over a document stream — the
    * streaming twin of `text_heavy_hitters` / [[graft.functions.MGBuffer]].
    *
    * The summary is SHARDED BY TOKEN HASH: each of `buckets` groups owns
    * the tokens that hash to it and maintains its own capacity-bounded
    * MG buffer in `flatMapGroupsWithState` state. A token lives in exactly
    * one bucket, so the union of bucket summaries is itself a valid
    * summary and every reported item keeps the self-validating bound
    * `est <= true <= est + dec` with its OWN bucket's `dec` — while state
    * stays O(buckets · capacity) forever and buckets parallelize
    * arbitrarily (the same sharding argument as [[simhashDedupStream]]).
    * Each micro-batch, a bucket that saw tokens re-emits its full summary
    * PLUS a retraction row (est = 0) for every token evicted from it this
    * batch — without the retraction, downstream's latest-row view would
    * keep a stale bound for a token the summary dropped. The retraction
    * is itself sound: MG evicts a token only when its counter hits 0
    * after `dec` total decrements, so `0 <= true <= 0 + dec` holds.
    * Downstream keeps the latest row per (bucket, tok).
    */
  def heavyHittersStream(
      docs: DataFrame,
      textCol: String,
      capacity: Int,
      buckets: Int = 16
  ): Dataset[(Int, String, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(
        pmod(hash(col("tok")), lit(buckets)).cast("int").as("bucket"),
        col("tok"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (bucket: Int, it: Iterator[(Int, String)],
         state: GroupState[MGState]) => {
          val buf = new graft.functions.MGBuffer(capacity)
          state.getOption.foreach { s =>
            var i = 0
            while (i < s.toks.length) {
              buf.counts.put(s.toks(i), s.ests(i)); i += 1
            }
            buf.dec = s.dec
          }
          val prior = state.getOption.map(_.toks.toSet).getOrElse(Set.empty)
          it.foreach { case (_, t) => buf.add(t, 1L) }
          val entries = buf.sortedEntries
          state.update(MGState(entries.map(_._1), entries.map(_._2), buf.dec))
          val kept = entries.iterator.map { case (t, e) => (bucket, t, e, buf.dec) }
          val evicted = (prior -- entries.map(_._1))
            .toSeq.sorted.iterator.map(t => (bucket, t, 0L, buf.dec))
          kept ++ evicted
        })
      .toDF("bucket", "tok", "est", "dec")
      .as[(Int, String, Long, Long)]
  }

  /** Streaming corpus-drift counters — the online half of
    * [[graft.operators.TextAnalysis.klDrift]]: the per-term (ca, cb)
    * slice counts maintained as an UPDATE-mode streaming aggregation.
    * Bounded state by the CMS argument: the key space is the
    * vocabulary, counts only grow, so the latest emission per term IS
    * the count table no matter how long the stream runs. The census
    * arithmetic (smoothed pa/pb, decimal-routed ln sums) is the shared
    * batch finisher [[graft.operators.TextAnalysis.klDriftFromCounts]]
    * over the drained counts — StreamingSpec pins the drained census
    * bit-equal to the batch one.
    */
  def klDriftCountsStream(
      docs: DataFrame, // streaming (… sliceA inputs …, textCol)
      sliceA: Column,
      textCol: String
  ): DataFrame =
    graft.operators.TextAnalysis.klDriftCounts(docs, sliceA, textCol)

  /** Streaming decontamination CASCADE — the online half of
    * [[graft.operators.Dedup.decontaminateCascade]]: every streamed
    * training doc is classified per-row against the STATIC eval
    * corpus's broadcast artifacts (distinct nExact-gram set; LSH band
    * buckets + per-eval-doc shingle sets; sorted (rolling-hash,
    * window-md5) pair table), emitting the same
    * (doc_id, rung, n_signals, ship_md5) row the batch operator
    * produces. Every rung decision is doc-local — the batch cascade's
    * anti-join sequencing is just first-signal priority — so the stream
    * is STATELESS (no watermark, append-safe, arbitrarily parallel) and
    * a doc classifies identically whether it arrived in batch or on any
    * wave split (StreamingSpec pins bit-equality; the only documented
    * divergence is [[scrubSpansStream]]'s md5-verified cut under a
    * simultaneous rolling-hash+md5 collision, where batch verifies
    * verbatim).
    */
  def decontaminateCascadeStream(
      docs: DataFrame, // streaming (idCol, textCol)
      evalDocs: DataFrame, // static eval corpus
      idCol: String,
      textCol: String,
      nExact: Int = 5,
      nFuzzy: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      w: Int = 20
  ): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.RollingHashWindowsExpr
    val rowsPerBand = numPerms / bands
    // rung-1 artifact: the eval corpus's distinct nExact-gram set
    val evalNg: Set[String] = graft.operators.Dedup
      .shingles(evalDocs, idCol, textCol, nExact)
      .select(col("sh")).distinct().as[String].collect().toSet
    // rung-2 artifacts: band buckets + per-eval-doc shingle sets
    val evalSh = graft.operators.Dedup
      .shingles(evalDocs, idCol, textCol, nFuzzy)
    val evalBuckets: Map[(Int, String), Array[Long]] =
      graft.operators.Dedup
        .bandSignatures(evalSh, numPerms, bands)
        .select(col("doc_id"), col("band"), col("sig"))
        .as[(Long, Int, String)]
        .collect()
        .groupBy(r => (r._2, r._3))
        .map { case (k, rs) => k -> rs.map(_._1).distinct }
    val evalSets: Map[Long, Set[String]] = evalSh
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    // rung-3 artifact: sorted (rolling-hash, window-md5) pairs
    val evPairs: Array[(Long, String)] = evalDocs
      .select(col(textCol)).as[String]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { t =>
          if (t == null) Iterator.empty
          else {
            val hs = RollingHashWindowsExpr.computeLongs(t, w)
            val cps = t.codePoints().toArray()
            Iterator.tabulate(hs.length) { i =>
              (hs(i), StreamingOps.md5Hex(md, new String(cps, i, w)))
            }
          }
        }
      }
      .distinct().collect().sorted
    val bcNg = spark.sparkContext.broadcast(evalNg)
    val bcBuckets = spark.sparkContext.broadcast(evalBuckets)
    val bcSets = spark.sparkContext.broadcast(evalSets)
    val bcSpans = spark.sparkContext.broadcast(
      (evPairs.map(_._1), evPairs.map(_._2)))
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ng = bcNg.value
        val buckets = bcBuckets.value
        val sets = bcSets.value
        val (evH, evM) = bcSpans.value
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5Mod(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          v % 1000000007L
        }
        it.map { case (id, text) =>
          val toks = text.split(" ", -1)
          // rung 1: distinct nExact-grams hitting the eval set
          var s1 = 0L
          if (toks.length >= nExact) {
            val seen = new scala.collection.mutable.HashSet[String]
            var i = 0
            while (i + nExact <= toks.length) {
              val g = toks.slice(i, i + nExact).mkString(" ")
              if (seen.add(g) && ng.contains(g)) s1 += 1
              i += 1
            }
          }
          if (s1 > 0) (id, "exact", s1, null: String)
          else {
            // rung 2: LSH candidates + exact-Jaccard verify, counting
            // DISTINCT eval near-dups (the batch n_matches)
            var s2 = 0L
            if (toks.length >= nFuzzy) {
              val sh = new scala.collection.mutable.HashSet[String]
              var i = 0
              while (i + nFuzzy <= toks.length) {
                val sb = new StringBuilder(toks(i))
                var j = 1
                while (j < nFuzzy) { sb.append(' ').append(toks(i + j)); j += 1 }
                sh += sb.result()
                i += 1
              }
              val mins = Array.fill(numPerms)(Long.MaxValue)
              sh.foreach { s =>
                val x = md5Mod(s)
                var p = 0
                while (p < numPerms) {
                  val v = ((2L * p + 1) * x + 12289L * p) % 1000000007L
                  if (v < mins(p)) mins(p) = v
                  p += 1
                }
              }
              val seen = new scala.collection.mutable.HashSet[Long]
              var bd = 0
              while (bd < bands) {
                val sig = (bd * rowsPerBand until (bd + 1) * rowsPerBand)
                  .map(mins(_).toString).mkString(",")
                buckets.get((bd, sig)).foreach { cands =>
                  var c = 0
                  while (c < cands.length) {
                    if (seen.add(cands(c))) {
                      val ev = sets(cands(c))
                      val inter = sh.count(ev.contains)
                      val jac =
                        inter.toDouble / (sh.size + ev.size - inter).toDouble
                      if (jac >= tau) s2 += 1
                    }
                    c += 1
                  }
                }
                bd += 1
              }
            }
            if (s2 > 0) (id, "fuzzy", s2, null: String)
            else {
              // rung 3: md5-verified leaked spans, island-merged and cut
              val hs = RollingHashWindowsExpr.computeLongs(text, w)
              lazy val cpsAll = text.codePoints().toArray()
              def verified(i: Int): Boolean = {
                var lo = java.util.Arrays.binarySearch(evH, hs(i))
                if (lo < 0) false
                else {
                  while (lo > 0 && evH(lo - 1) == hs(i)) lo -= 1
                  val m = StreamingOps.md5Hex(md, new String(cpsAll, i, w))
                  var ok = false
                  var j = lo
                  while (!ok && j < evH.length && evH(j) == hs(i)) {
                    if (evM(j) == m) ok = true
                    j += 1
                  }
                  ok
                }
              }
              val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
              var i = 0
              while (i < hs.length) {
                if (verified(i)) {
                  val st = i + 1
                  val e = i + w
                  if (spans.nonEmpty && st <= spans.last._2 + 1) {
                    val last = spans.last
                    spans(spans.length - 1) = (last._1, math.max(last._2, e))
                  } else spans += ((st, e))
                }
                i += 1
              }
              if (spans.isEmpty)
                (id, "clean", 0L, StreamingOps.md5Hex(md, text))
              else {
                val cps = cpsAll
                val kept = new java.lang.StringBuilder
                var pos = 1
                spans.foreach { case (st, e) =>
                  var j = pos
                  while (j < st) { kept.appendCodePoint(cps(j - 1)); j += 1 }
                  pos = e + 1
                }
                var j = pos
                while (j <= cps.length) { kept.appendCodePoint(cps(j - 1)); j += 1 }
                (id, "scrubbed", spans.length.toLong,
                  StreamingOps.md5Hex(md, kept.toString))
              }
            }
          }
        }
      }
      .toDF("doc_id", "rung", "n_signals", "ship_md5")
  }
}
