package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.queries.Q
import graft.streaming.StreamingOps

/** Streaming operators vs their batch twins over the same events data
  * (§2.G). The batch side is the oracle: stream a copy of the events file,
  * drain it, compare.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def stageEventsDir(): String = {
    val dir = Files.createTempDirectory("events_stream").toString
    Files.copy(
      Paths.get(s"$sf0001/events.parquet"),
      Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING
    )
    dir
  }

  /** Writes one CDC wave to a staging dir outside the stream's source and
    * moves it in whole: a source listing mid-commit could otherwise see
    * the wave's delete file before its upsert file, split the wave over
    * two batches and revive the deleted ids. */
  private def arriveWhole(wave: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val staged = Files.createTempDirectory("cdcstage").resolve("wave")
    wave.write.parquet(staged.toString)
    Files.move(staged, Paths.get(dest), StandardCopyOption.ATOMIC_MOVE)
  }

  test("streaming hourly windowed counts == batch window() aggregation") {
    val dir = stageEventsDir()
    val stream = StreamingOps.hourlyCounts(StreamingOps.readEvents(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("hourly")
      .select(col("ws"), col("event_type"), col("n"))
    val want = Q.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("streaming sliding windows == batch q30 window() aggregation") {
    val dir = stageEventsDir()
    val stream = StreamingOps.slidingCounts(StreamingOps.readEvents(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("sliding").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("sliding")
      .select(col("ws"), col("event_type"), col("n"))
    val want = Q.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("streaming session count per user == batch lag-based sessionization") {
    val dir = stageEventsDir()
    val stream = StreamingOps.sessions(StreamingOps.readEvents(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("sess").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("sess")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
    // batch twin: q16_sessions groups
    val want = graft.SparkEntry.queries("q16_sessions")(spark, sf0001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("streaming dedup drops re-delivered events") {
    val dir = stageEventsDir()
    // re-deliver the same file under another name -> every event twice
    Files.copy(
      Paths.get(s"$sf0001/events.parquet"),
      Paths.get(s"$dir/events_redelivery.parquet")
    )
    val stream = StreamingOps.dedup(StreamingOps.readEvents(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    assert(spark.table("dedup").count() == Q.events(spark, sf0001).count())
  }

  test("flatMapGroupsWithState running totals reach the batch totals") {
    val dir = stageEventsDir()
    val stream =
      StreamingOps.runningPerUser(spark, StreamingOps.readEvents(spark, dir))
    val q = stream.toDF().writeStream
      .format("memory").queryName("running").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("running")
      .groupBy(col("userId").as("user_id")).agg(max(col("n")).as("n"))
    val want = Q.events(spark, sf0001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("foreachBatch vector append feeds an HNSW build") {
    import graft.functions.VectorFunctions._
    import graft.operators.{DistributedHnsw, HnswParams}
    val store = Files.createTempDirectory("vecstore").toString + "/store"
    val ckpt = Files.createTempDirectory("ckpt").toString
    val srcDir = Files.createTempDirectory("embstream").toString
    Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
      .write.parquet(s"$srcDir/batch1")
    val stream = spark.readStream
      .schema("vec_id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$srcDir/batch1")
    val q = StreamingOps.vectorAppendSink(stream, "vec_id", "vec", 4, store, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val stored = spark.read.parquet(store)
    assert(stored.count() == 500)
    val shards = DistributedHnsw.build(
      stored, "id", "vec", HnswParams(m = 8, efConstruction = 50), 4, seed = 1
    )
    val queries =
      stored.limit(5).select(col("id").as("query_id"), col("vec").as("qv"))
    val r = DistributedHnsw.search(shards, queries, "query_id", "qv", 5)
    assert(r.count() == 25)
  }

  test("incremental HNSW sink releases its build caches every micro-batch") {
    import graft.functions.VectorFunctions._
    import graft.operators.HnswParams
    val params = HnswParams(m = 8, efConstruction = 50)
    val srcDir = Files.createTempDirectory("leaksrc").toString
    val store = Files.createTempDirectory("leakstore").toString + "/store"
    val index = Files.createTempDirectory("leakindex").toString + "/index"
    val ckpt = Files.createTempDirectory("leakckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    // three arrival waves -> three micro-batches, one build each
    emb.filter(col("id") < 150).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 150 && col("id") < 300).write.parquet(s"$srcDir/w2")
    emb.filter(col("id") >= 300).write.parquet(s"$srcDir/w3")
    val before = spark.sparkContext.getPersistentRDDs.size
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalHnswSink(
      stream, "id", "vec", params, 4, seed = 9, store, index, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before,
      s"cached-RDD count grew $before -> $after across 3 micro-batches")
  }

  test("walk-extension sink: two-wave stream == one batch walk run, bit-equal") {
    import graft.functions.VectorFunctions._
    import graft.operators.{NNDescent, RandomWalk}
    val srcDir = Files.createTempDirectory("wsrc").toString
    val graphDir = Files.createTempDirectory("wgraph").toString + "/graph"
    val outDir = Files.createTempDirectory("wout").toString + "/walks"
    val ckpt = Files.createTempDirectory("wckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    // FIXED graph artifact (the incremental sink's output discipline)
    NNDescent.knnGraph(emb, "id", "vec", k = 10, iterations = 2)
      .select(col("src"), col("dst"))
      .write.parquet(graphDir)
    // starts arrive in two waves
    val starts = emb.filter(col("id") % 5 === 0).select(col("id"))
    starts.filter(col("id") < 250).write.parquet(s"$srcDir/w1")
    starts.filter(col("id") >= 250).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("id LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.walkExtendSink(
      stream, graphDir, steps = 5, salt = "v1", outDir, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = RandomWalk
      .uniformWalks(spark.read.parquet(graphDir), starts, 5, "v1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want,
      s"stream/batch walk divergence: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
    // and the trajectories are complete: every start walked all 5 steps
    assert(got.size == starts.count() * 6, s"expected full trajectories, got ${got.size}")
  }

  test("scan-census sink: two-wave edge stream == one batch scan, bit-equal") {
    import graft.functions.VectorFunctions._
    import graft.operators.{GraphAudit, NNDescent}
    val srcDir = Files.createTempDirectory("scsrc").toString
    val store = Files.createTempDirectory("scstore").toString + "/edges"
    val outDir = Files.createTempDirectory("scout").toString + "/census"
    val ckpt = Files.createTempDirectory("scckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val edges = NNDescent.knnGraph(emb, "id", "vec", k = 10, iterations = 2)
      .select(col("src"), col("dst"))
      .localCheckpoint()
    // edges arrive in two waves (split by source id)
    edges.filter(col("src") < 250).write.parquet(s"$srcDir/w1")
    edges.filter(col("src") >= 250).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("src LONG, dst LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.scanCensusSink(
      stream, epsSqNum = 9L, epsSqDen = 100L, mu = 3, store, outDir, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val got = asSet(spark.read.parquet(outDir)
      .select(col("id"), col("deg"), col("role"), col("cluster")))
    val ids = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val want = asSet(GraphAudit.scan(edges, ids, 9L, 100L, 3))
    assert(got == want,
      s"stream/batch scan divergence: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
    // the store is a true multiset (batchId-keyed idempotent writes): the
    // accumulated edge count equals the arrivals, no re-delivery doubling
    val stored = spark.read.parquet(store).select(col("src"), col("dst"))
    assert(stored.count() == edges.count(),
      s"edge store multiset drift: ${stored.count()} vs ${edges.count()}")
  }

  test("incremental kNN-graph sink: two-wave recall within delta of the batch build") {
    import graft.functions.VectorFunctions._
    import graft.operators.{BruteForceKNN, NNDescent}
    val srcDir = Files.createTempDirectory("gsrc").toString
    val store = Files.createTempDirectory("gstore").toString + "/store"
    val graph = Files.createTempDirectory("ggraph").toString + "/graph"
    val ckpt = Files.createTempDirectory("gckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    emb.filter(col("id") < 400).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 400).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalKnnGraphSink(
      stream, "id", "vec", k = 10, beam = 24, rounds = 4, store, graph, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.read.parquet(graph)

    // structure: every node present, degree capped at k
    assert(streamed.select(col("src")).distinct().count() == emb.count())
    assert(streamed.groupBy(col("src")).count()
      .filter(col("count") > 10).count() == 0)

    // quality: recall vs the exact graph within a fixed delta of the full
    // batch rebuild (the insert route pays a bounded accuracy cost)
    val qv = emb.select(col("id").as("query_id"), col("vec").as("qv"))
    val exact = BruteForceKNN.knn(
      qv, emb.select(col("id").as("neighbor_id"), col("vec").as("bv")), 11)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("rn") <= 10)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val rStream = NNDescent.graphRecall(streamed, exact)
    val full = NNDescent.knnGraph(emb, "id", "vec", 10, iterations = 2)
    val rFull = NNDescent.graphRecall(full, exact)
    assert(rStream >= rFull - 0.15,
      s"incremental recall $rStream too far below batch $rFull")
  }

  test("stream-stream interval join == batch interval join") {
    val dir = stageEventsDir()
    val ev = StreamingOps.readEvents(spark, dir)
    val joined = StreamingOps.purchaseSignupJoin(ev, "1 day")
    val q = joined.writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("ssjoin").select(col("p_id"), col("s_id"))
    val batch = Q.events(spark, sf0001)
    val p = batch.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val s2 = batch.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
    val want = p.join(s2,
      expr("p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - interval 1 day"))
      .select(col("p_id"), col("s_id"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("incremental IVF sink: streamed appends answer like a batch build") {
    import graft.functions.VectorFunctions._
    import graft.operators.IvfIndex
    val srcDir = Files.createTempDirectory("ivfsrc").toString
    val index = Files.createTempDirectory("ivfidx").toString + "/index"
    val ckpt = Files.createTempDirectory("ivfckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val cents = emb.filter(col("id") < 8).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    emb.filter(col("id") < 250).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 250).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalIvfSink(
      stream, "id", "vec", cents, index, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val streamed = IvfIndex.searchPartitioned(
      spark, index, queries, "query_id", "qv", cents, k = 5, nprobe = 3)
    val batch = IvfIndex.search(
      spark, IvfIndex.assign(spark, emb, "id", "vec", cents),
      queries, "query_id", "qv", cents, k = 5, nprobe = 3)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
  }

  test("CDC IVF sink: streamed upsert/delete history answers like batch maintenance") {
    import graft.functions.VectorFunctions._
    import graft.operators.IvfIndex
    val srcDir = Files.createTempDirectory("cdcsrc").toString
    val index = Files.createTempDirectory("cdcidx").toString + "/index"
    val twin = Files.createTempDirectory("cdctwin").toString + "/index"
    val ckpt = Files.createTempDirectory("cdcckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val cents = emb.filter(col("id") < 8).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    // wave 1: upsert ids < 300; wave 2: re-upsert [250,500) with SCALED
    // vectors (so version masking is observable) + delete ids % 9 == 0.
    // CDC order matters, so each wave is drained before the next arrives.
    val w1 = emb.filter(col("id") < 300).withColumn("op", lit("upsert"))
    val w2 = emb.filter(col("id") >= 250)
      .withColumn("vec", transform(col("vec"), x => x * 2.0))
      .withColumn("op", lit("upsert"))
      .unionByName(
        emb.filter(col("id") % 9 === 0)
          .withColumn("op", lit("delete")))
    arriveWhole(w1, s"$srcDir/w1")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>, op STRING")
      .parquet(s"$srcDir/*")
    val q = StreamingOps.cdcIvfSink(
      stream, "id", "vec", "op", cents, index, ckpt)
    try {
      q.processAllAvailable()
      arriveWhole(w2, s"$srcDir/w2")
      q.processAllAvailable()
    } finally q.stop()
    // batch twin: the same history through the batch maintenance API
    IvfIndex.upsert(spark, twin, w1.drop("op"), "id", "vec", cents)
    IvfIndex.upsert(
      spark, twin, w2.filter(col("op") === "upsert").drop("op"),
      "id", "vec", cents)
    IvfIndex.delete(
      spark, twin, w2.filter(col("op") === "delete").select(col("id")))
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val streamed = IvfIndex.searchPartitioned(
      spark, index, queries, "query_id", "qv", cents, k = 5, nprobe = 3)
    val batch = IvfIndex.searchPartitioned(
      spark, twin, queries, "query_id", "qv", cents, k = 5, nprobe = 3)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
    // the live view holds exactly the surviving versions: one row per
    // non-deleted id, scaled vectors for every id >= 250
    val live = IvfIndex.loadLive(spark, index)
    assert(live.groupBy(col("id")).count()
      .filter(col("count") =!= 1).count() == 0)
    assert(live.filter(col("id") % 9 === 0).count() == 0)
    assert(live.count() === emb.filter(col("id") % 9 =!= 0).count())
  }

  test("CDC IVFADC sink: streamed upsert/delete history answers like batch maintenance") {
    import graft.functions.VectorFunctions._
    import graft.operators.{IvfAdc, PQModel}
    val srcDir = Files.createTempDirectory("cdcadcsrc").toString
    val index = Files.createTempDirectory("cdcadcidx").toString + "/index"
    val twin = Files.createTempDirectory("cdcadctwin").toString + "/index"
    val ckpt = Files.createTempDirectory("cdcadcckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val cents = emb.filter(col("id") < 8).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val cbRows = emb.filter(col("id") < 4).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val model = PQModel(8, 4, 64, Array.tabulate(8)(mi =>
      cbRows.map(v => java.util.Arrays.copyOfRange(v, mi * 8, (mi + 1) * 8))))
    val w1 = emb.filter(col("id") < 300).withColumn("op", lit("upsert"))
    val w2 = emb.filter(col("id") >= 250)
      .withColumn("vec", transform(col("vec"), x => x * 2.0))
      .withColumn("op", lit("upsert"))
      .unionByName(
        emb.filter(col("id") % 9 === 0).withColumn("op", lit("delete")))
    arriveWhole(w1, s"$srcDir/w1")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>, op STRING")
      .parquet(s"$srcDir/*")
    val q = StreamingOps.cdcIvfAdcSink(
      stream, "id", "vec", "op", cents, model, index, ckpt)
    try {
      q.processAllAvailable()
      arriveWhole(w2, s"$srcDir/w2")
      q.processAllAvailable()
    } finally q.stop()
    IvfAdc.upsert(spark, twin, w1.drop("op"), "id", "vec", cents, model)
    IvfAdc.upsert(
      spark, twin, w2.filter(col("op") === "upsert").drop("op"),
      "id", "vec", cents, model)
    IvfAdc.delete(
      spark, twin, w2.filter(col("op") === "delete").select(col("id")))
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val streamed = IvfAdc.searchPartitioned(
      spark, index, queries, "query_id", "qv", cents, model, k = 5, nprobe = 3)
    val batch = IvfAdc.searchPartitioned(
      spark, twin, queries, "query_id", "qv", cents, model, k = 5, nprobe = 3)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
  }

  test("incremental IVFADC sink: streamed residual-code appends answer like a batch build") {
    import graft.functions.VectorFunctions._
    import graft.operators.{IvfAdc, PQModel}
    val srcDir = Files.createTempDirectory("ivfadcsrc").toString
    val index = Files.createTempDirectory("ivfadcidx").toString + "/index"
    val ckpt = Files.createTempDirectory("ivfadcckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val cents = emb.filter(col("id") < 8).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val cbRows = emb.filter(col("id") < 4).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val model = PQModel(8, 4, 64, Array.tabulate(8)(mi =>
      cbRows.map(v => java.util.Arrays.copyOfRange(v, mi * 8, (mi + 1) * 8))))
    // two arrival waves -> two micro-batches, pure partitioned appends
    emb.filter(col("id") < 250).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 250).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalIvfAdcSink(
      stream, "id", "vec", cents, model, index, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val streamed = IvfAdc.searchPartitioned(
      spark, index, queries, "query_id", "qv", cents, model, k = 5, nprobe = 3)
    val batch = IvfAdc.search(
      spark, IvfAdc.encode(spark, emb, "id", "vec", cents, model),
      queries, "query_id", "qv", cents, model, k = 5, nprobe = 3)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
  }

  test("incremental HNSW sink maintains the compressed code table across batches") {
    import graft.functions.VectorFunctions._
    import graft.operators.{DistributedHnsw, HnswParams, PQCompression, ProductQuantizer}
    val params = HnswParams(m = 8, efConstruction = 50)
    val srcDir = Files.createTempDirectory("pqincsrc").toString
    val store = Files.createTempDirectory("pqincstore").toString + "/store"
    val index = Files.createTempDirectory("pqincindex").toString + "/index"
    val ckpt = Files.createTempDirectory("pqincckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val comp = new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 16, seed = 12))
    emb.filter(col("id") < 250).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 250).write.parquet(s"$srcDir/w2")
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalHnswSink(
      stream, "id", "vec", params, 4, seed = 12, store, index, ckpt,
      compression = Some(comp))
    try q.processAllAvailable()
    finally q.stop()
    val loaded = DistributedHnsw.load(spark, index, params, 4)
    assert(loaded.codes.isDefined, "streamed artifact must carry the code table")
    assert(loaded.codes.get.count() == emb.count())
    // the incrementally maintained compressed index answers exactly like a
    // from-scratch compressed build
    val full = DistributedHnsw.build(
      emb, "id", "vec", params, 4, seed = 12, compression = Some(comp))
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val a = DistributedHnsw.search(
      loaded, queries, "query_id", "qv", 10, compression = Some(comp))
      .select("query_id", "neighbor_id", "rnk")
    val b = DistributedHnsw.search(
      full, queries, "query_id", "qv", 10, compression = Some(comp))
      .select("query_id", "neighbor_id", "rnk")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    full.unpersist()
  }

  test("incremental HNSW sink: per-batch shard rebuild equals full rebuild") {
    import graft.functions.VectorFunctions._
    import graft.operators.{DistributedHnsw, HnswParams}
    val params = HnswParams(m = 8, efConstruction = 50)
    val srcDir = Files.createTempDirectory("incsrc").toString
    val store = Files.createTempDirectory("incstore").toString + "/store"
    val index = Files.createTempDirectory("incindex").toString + "/index"
    val ckpt = Files.createTempDirectory("incckpt").toString
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    // two arrival waves -> two micro-batches
    emb.filter(col("id") < 250).write.parquet(s"$srcDir/w1")
    emb.filter(col("id") >= 250).write.parquet(s"$srcDir/w2")
    val files = new java.io.File(srcDir)
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.incrementalHnswSink(
      stream, "id", "vec", params, 4, seed = 6, store, index, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    // the incrementally maintained index answers like a from-scratch build
    val loaded = DistributedHnsw.load(spark, index, params, 4)
    val full = DistributedHnsw.build(emb, "id", "vec", params, 4, seed = 6)
    val queries = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val a = DistributedHnsw.search(loaded, queries, "query_id", "qv", 10)
      .select("query_id", "neighbor_id", "rnk")
    val b = DistributedHnsw.search(full, queries, "query_id", "qv", 10)
      .select("query_id", "neighbor_id", "rnk")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("streaming decontamination passes exactly the batch operator's clean docs") {
    import graft.operators.Dedup
    val docs = Q.t(spark, sf0001, "documents")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
    // plant a contaminated doc so the filter provably drops something:
    // doc -1 copies an eval doc's text verbatim
    val planted = evalSet.limit(1)
      .select(lit(-1L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val dir = Files.createTempDirectory("docs_stream").toString
    train.unionByName(planted).write.parquet(s"$dir/docs")
    val stream = StreamingOps.decontaminateStream(
      StreamingOps.readDocuments(spark, s"$dir/docs"),
      evalSet, "doc_id", "text", n = 5)
    val q = stream.writeStream
      .format("memory").queryName("decon").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("decon").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val want = train.unionByName(planted)
      .join(
        Dedup.decontaminate(
          train.unionByName(planted), evalSet, "doc_id", "text", n = 5)
          .filter(!col("contaminated")).select(col("doc_id")),
        "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(!got.contains(-1L), "planted contaminated doc must be dropped")
  }

  test("streaming fuzzy decontamination passes exactly the batch operator's clean docs") {
    import graft.operators.Dedup
    val docs = Q.t(spark, sf0001, "documents")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
    // plant a near-duplicate: doc -1 copies an eval doc's text with one
    // appended token, so only the FUZZY operator (not exact n-gram overlap
    // at jaccard 1) exercises the tau threshold
    val planted = evalSet.limit(1)
      .select(lit(-1L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val dir = Files.createTempDirectory("docs_fuzzy_stream").toString
    train.unionByName(planted).write.parquet(s"$dir/docs")
    val stream = StreamingOps.decontaminateFuzzyStream(
      StreamingOps.readDocuments(spark, s"$dir/docs"),
      evalSet, "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("deconf").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("deconf").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val want = Dedup.decontaminateFuzzy(
        train.unionByName(planted), evalSet, "doc_id", "text")
      .filter(!col("contaminated")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(!got.contains(-1L), "planted near-dup doc must be dropped")
  }

  test("online simhash near-dup detection flags exactly the batch pairs' later docs") {
    import graft.operators.Dedup
    val docs = Q.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    // two micro-batches split by id, delivered low-ids-first so arrival
    // order equals the batch operator's doc_a < doc_b orientation
    val cut = 250L
    val dir = Files.createTempDirectory("docs_simhash_stream").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("simhash_part").toString + "/out"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage(docs.filter(col("doc_id") < cut), "0_low.parquet")
    stage(docs.filter(col("doc_id") >= cut), "1_high.parquet")
    // ensure the low-id file lists as strictly older
    Files.setLastModifiedTime(Paths.get(s"$dir/0_low.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(s"$dir/1_high.parquet"))
          .toMillis - 60000))
    val stream = StreamingOps.simhashDedupStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir),
      "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("simdup").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("simdup").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val want = Dedup.simhashPairs(docs, "doc_id", "text")
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty, "fixture must contain near-dup pairs")
    assert(got == want)
  }

  test("streaming heavy hitters: eviction emits a retraction row in the lossy regime") {
    // capacity 2, one bucket. Wave 1: {a x3, b}. Wave 2: {b, c, d} —
    // adding c clamps all counters by 1 (dec=1, c absorbed), adding d
    // evicts b (dec=2). The batch-2 emission must RETRACT b (est=0), so
    // downstream's latest row per token never keeps a stale bound.
    val dir = Files.createTempDirectory("hhlossy").toString
    Seq((1L, "a a a b")).toDF("doc_id", "text").write.parquet(s"$dir/w1")
    Seq((2L, "b c d")).toDF("doc_id", "text").write.parquet(s"$dir/w2")
    val stream = StreamingOps.heavyHittersStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "text", capacity = 2, buckets = 1)
    val q = stream.toDF("bucket", "tok", "est", "dec").writeStream
      .format("memory").queryName("hhlossy").outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    val rows = spark.table("hhlossy").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // latest emission per token = the one with the highest dec
    val latest = rows.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
    assert(latest("a") == ("a", 1L, 2L)) // est 1, true 3 <= est + dec
    assert(latest("b") == ("b", 0L, 2L)) // RETRACTED: est 0, true 2 <= dec
    // self-validating bound against the exact counts
    val exact = Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 1L)
    latest.foreach { case (t, (_, est, dec)) =>
      assert(est <= exact(t) && exact(t) <= est + dec, s"$t $est $dec")
    }
  }

  test("streaming funnel: time-ordered waves reach the batch min-ts chain counts") {
    val raw = Q.events(spark, sf0001) // ts normalized to TIMESTAMP
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val dir = Files.createTempDirectory("funnelstream").toString
    // wave 2 is written only after wave 1 fully drains, so delivery is
    // time-ordered across batches (the regime where the greedy replay
    // equals the batch min-ts chain); coalesce(1) keeps each wave in one
    // file so maxFilesPerTrigger=1 can't interleave within a wave
    raw.filter(col("ts") < cut).coalesce(1).write.parquet(s"$dir/w1")
    val stream = StreamingOps.funnelStream(
      StreamingOps.readEvents(spark, s"$dir/*"),
      Seq("signup", "view", "click", "purchase"))
    val q = stream.toDF("user_id", "stage", "ts_us").writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    try {
      q.processAllAvailable()
      raw.filter(col("ts") >= cut).coalesce(1).write.parquet(s"$dir/w2")
      q.processAllAvailable()
    } finally q.stop()
    // stage is monotone per user -> the final state is the max emission
    val latest = spark.table("funnel")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
    val got = (1 to 4).map(i => latest.filter(col("stage") >= i).count())
    val want = graft.SparkEntry.queries("q28_funnel")(spark, sf0001)
      .orderBy(col("stage"))
      .collect().map(_.getLong(2)).toSeq
    assert(got == want, s"stream $got vs batch $want")
  }

  test("streaming span scrub: two waves equal the batch detect+scrub, bit-for-bit") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val eval = docs.filter(col("doc_id") % 50 === 0)
    val dir = Files.createTempDirectory("scrubstream").toString
    train.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    train.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.scrubSpansStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      eval, "doc_id", "text", w = 20)
    val q = stream.writeStream
      .format("memory").queryName("scrub").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("scrub")
      .select(col("doc_id"), md5(col("clean_text")).as("h"),
        col("n_spans"), col("removed_chars"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    val spans = graft.operators.Dedup.contaminatedSpans(
      train, eval, "doc_id", "text", w = 20)
    val want = graft.operators.Dedup.scrubSpans(train, "doc_id", "text", spans)
      .select(col("doc_id"), md5(col("clean_text")).as("h"),
        col("n_spans"), col("removed_chars"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == want.size)
    assert(got == want)
    // the stream actually cut something (fixture isn't trivially clean)
    assert(got.values.exists(_._2 > 0L), "no contaminated doc in fixture")
  }

  test("streaming span scrub: md5 guard rejects a crafted rolling-hash collision") {
    def tm(k: Int): (String, String) = {
      var s = "a"; var t = "b"
      for (_ <- 1 to k) { val ns = s + t; val nt = t + s; s = ns; t = nt }
      (s, t)
    }
    val (s10, t10) = tm(10) // 1024-char Thue–Morse pair: equal rolling hash
    val ev = Seq((100L, t10)).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("scrubcollide").toString
    // doc 1 merely COLLIDES with eval; doc 2 genuinely contains it
    Seq((1L, s10), (2L, "xx" + t10 + "yy")).toDF("doc_id", "text")
      .write.parquet(s"$dir/w1")
    val stream = StreamingOps.scrubSpansStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      ev, "doc_id", "text", w = 1024)
    val q = stream.writeStream
      .format("memory").queryName("scrubcollide").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("scrubcollide")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got(1L) == ((s10, 0L)), "collision must NOT cut clean text")
    assert(got(2L) == (("xxyy", 1L)), "true leak must still be cut")
  }

  test("streaming leak-safe split routes every doc exactly like batch") {
    import graft.operators.Dedup
    val docs = Q.t(spark, sf0001, "documents")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .localCheckpoint()
    val dir = Files.createTempDirectory("splitstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.leakSafeSplitStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      comp, "doc_id", trainPct = 90)
    val q = stream.writeStream
      .format("memory").queryName("split").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = Dedup.leakSafeSplit(docs, "doc_id", comp, trainPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
    assert(got.map(_._3) == Set("train", "val"))
  }

  test("streaming temperature sampling: two waves equal the batch filter") {
    val docs = Q.t(spark, sf0001, "documents")
    val dir = Files.createTempDirectory("tempstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    // the batch query's own rate table is the static reference artifact
    val rates = graft.SparkEntry.queries("pipeline_temperature")(spark, sf0001)
      .select(col("lang"), col("rate")).distinct()
    val stream = StreamingOps.temperatureSampleStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      rates, "doc_id", "lang")
    val q = stream.writeStream
      .format("memory").queryName("temp").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("temp").select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val want = graft.SparkEntry.queries("pipeline_temperature")(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming RP-tree assignment: streamed leaves == build leaves bit for bit") {
    import graft.operators.RpTree
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val forest = RpTree.build(emb, "id", "vec", numTrees = 2, depth = 4, dim = 64)
    val meds = forest.medians.localCheckpoint()
    val dir = Files.createTempDirectory("rptstream").toString
    val flat = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    flat.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/w1")
    flat.filter(col("vec_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.rptAssignStream(
      spark.readStream
        .schema("vec_id LONG, vec ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      meds, "vec_id", "vec", numTrees = 2, depth = 4, dim = 64)
    val q = stream.writeStream
      .format("memory").queryName("rptassign").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("rptassign")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = forest.leaves
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "streamed assignment diverged from the build's leaf table")
  }

  test("streaming PCA projection: two waves bit-equal the batch scores") {
    import graft.operators.Pca
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val model = Pca.fit(emb, "vec", d = 64, p = 2, rounds = 6)
    val dir = Files.createTempDirectory("pcastream").toString
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.pcaProjectStream(
      spark.readStream
        .schema("vec_id LONG, vec ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      model, "vec_id", "vec")
    val q = stream.writeStream
      .format("memory").queryName("pcaproj").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("pcaproj").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val want = emb.select(
      col("vec_id"),
      Pca.projectCol(model, col("vec"), 0).as("pc1"),
      Pca.whitenCol(model, col("vec"), 0).as("w1"),
      Pca.projectCol(model, col("vec"), 1).as("pc2"),
      Pca.whitenCol(model, col("vec"), 1).as("w2"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == want, "streamed PCA scores diverged from batch")
  }

  test("streaming PCA outlier gate + exemplar attribution bit-equal their batch halves") {
    import graft.operators.{FacilityLocation, Pca}
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val model = Pca.fit(emb, "vec", d = 64, p = 2, rounds = 6)
    val thr = 2.0 * emb
      .agg(avg(Pca.residualCol(model, col("vec")))).head.getDouble(0)
    val ids = FacilityLocation.greedy(emb, "vec_id", "vec", k = 3, poolMod = 10L)
      .collect().map(_.getLong(1))
    val byId = emb.filter(col("vec_id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val picks = ids.map(id => (id, byId(id)))
    val dir = Files.createTempDirectory("pcaoutstream").toString
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$dir/w2")
    def streamed = spark.readStream
      .schema("vec_id LONG, vec ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
    val q1 = StreamingOps.pcaOutlierStream(streamed, model, thr, "vec_id", "vec")
      .writeStream.format("memory").queryName("pcaout").outputMode("append").start()
    val q2 = StreamingOps.exemplarAssignStream(streamed, picks, "vec_id", "vec")
      .writeStream.format("memory").queryName("exassign").outputMode("append").start()
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }
    val gotOut = spark.table("pcaout").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val wantOut = emb.select(col("vec_id"),
      Pca.residualCol(model, col("vec")).as("r"),
      (Pca.residualCol(model, col("vec")) > thr).as("f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(gotOut == wantOut, "streamed outlier gate diverged from batch")
    assert(wantOut.exists(_._3) || thr > 0, "threshold sanity")
    val gotAs = spark.table("exassign").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val wantAs = StreamingOps
      .exemplarAssignStream(emb, picks, "vec_id", "vec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotAs == wantAs, "streamed attribution diverged from batch")
    // attribution agrees with the batch coverage report's partition
    val covN = FacilityLocation.coverage(emb, "vec_id", "vec", picks)
      .agg(sum(col("attracted"))).head.getLong(0)
    assert(covN == wantAs.size.toLong)
  }

  test("streaming video/audio signatures: two waves bit-equal the batch extraction") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val vids = (0L until 24L).map { id =>
      val g = id / 8
      (id, Multimodal.gifVideoGradient(
        (g % 24 + 9).toInt, (g * 7 % 24 + 8).toInt,
        (id % 2).toInt until ((id % 2) + (id % 3) + 2).toInt,
        (30 + (g % 4) * 7).toInt, (25 + ((g / 4) % 4) * 9).toInt, 40))
    }.toDF("id", "content")
    val vdir = Files.createTempDirectory("vhashstream").toString
    vids.filter(col("id") % 2 === 0).write.parquet(s"$vdir/w1")
    vids.filter(col("id") % 2 === 1).write.parquet(s"$vdir/w2")
    val vq = StreamingOps.videoHashStream(
      spark.readStream.schema("id LONG, content BINARY")
        .option("maxFilesPerTrigger", 1).parquet(s"$vdir/*"))
      .writeStream.format("memory").queryName("vhash").outputMode("append").start()
    try vq.processAllAvailable() finally vq.stop()
    val vGot = spark.table("vhash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val vWant = Multimodal.videoFrameHashes(spark, vids).collect()
      .map(f => (f.id, f.frame, f.hashHi, f.hashLo)).toSet
    assert(vGot == vWant, "streamed video signatures diverged")

    val wavs = (0L until 24L).map { id =>
      val g = id / 6
      (id, "audio",
        Multimodal.rampWav(
          (g % 256 + 33).toInt - 8 * (id % 3).toInt,
          (g % 500).toInt, (g % 7 + 1).toInt), 0L)
    }.toDF("id", "modality", "content", "metaLen")
    val adir = Files.createTempDirectory("afpstream").toString
    wavs.filter(col("id") % 2 === 0).write.parquet(s"$adir/w1")
    wavs.filter(col("id") % 2 === 1).write.parquet(s"$adir/w2")
    val aq = StreamingOps.audioFingerprintStream(
      spark.readStream
        .schema("id LONG, modality STRING, content BINARY, metaLen LONG")
        .option("maxFilesPerTrigger", 1).parquet(s"$adir/*"),
      windowFrames = 64)
      .writeStream.format("memory").queryName("afp").outputMode("append").start()
    try aq.processAllAvailable() finally aq.stop()
    val aGot = spark.table("afp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    val aWant = Multimodal.audioEnergy(spark, wavs, 64).collect()
      .map(w => (w.id, w.win, w.energy)).toSet
    assert(aGot == aWant, "streamed audio fingerprints diverged")
  }

  test("streaming DSIR scoring: two waves bit-equal the batch weights") {
    import graft.operators.Dsir
    val docs = Q.t(spark, sf0001, "documents")
    val tgt = docs.filter(col("source") === "src0")
    val terms = Dsir.logRatioTable(docs, tgt, "doc_id", "text", buckets = 512)
      .orderBy(col("b")).collect().map(_.getDouble(1)).toSeq
    val dir = Files.createTempDirectory("dsirstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.dsirScoreStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      terms, "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("dsirscore").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("dsirscore")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = Dsir.importanceWeights(docs, tgt, "doc_id", "text", buckets = 512)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == want.keySet)
    // bit-equality: exact decimal accumulation makes fold order irrelevant
    got.foreach { case (id, lw) =>
      assert(lw == want(id), s"doc $id: stream $lw != batch ${want(id)}")
    }
  }

  test("streaming C4 scrub: two waves equal the batch rewrite bit for bit") {
    // paged fixture with real line structure (lines of 3 words, every
    // second line unpunctuated, one lorem page, one brace page)
    val pages = (0L until 40L).map { id =>
      val lines = (0 until 6).map { i =>
        val l = s"tok${id} tok$i tok${i + 1}"
        if (i % 2 == 0) l + "." else l
      }
      val extra =
        if (id % 10 == 3) Seq("lorem ipsum dolor sit amet.")
        else if (id % 10 == 7) Seq("conf { x }")
        else Seq.empty
      (id, (extra ++ lines).mkString("\n"))
    }
    val docs = pages.toDF("doc_id", "page")
    val dir = Files.createTempDirectory("c4stream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.c4ScrubStream(
      spark.readStream
        .schema("doc_id LONG, page STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "page")
    val q = stream.writeStream
      .format("memory").queryName("c4scrub").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("c4scrub")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.operators.TextAnalysis.c4Scrub(docs, "doc_id", "page")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    // the fixture exercises all three fates: kept pages (scrubbed of the
    // unpunctuated lines), lorem-flagged drops, brace-flagged drops
    assert(got.nonEmpty && got.size < 40)
    assert(got.forall { case (id, _, dropped) =>
      id % 10 != 3 && id % 10 != 7 && dropped == 3 })
  }

  test("streaming Gopher gate: two waves equal the batch census bit for bit") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("gopherstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.gopherFilterStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("gopher").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(Option(_).map(_.toString))).toSet
    val got = canon(spark.table("gopher"))
    val want = canon(
      graft.operators.TextAnalysis.gopherStats(docs, "doc_id", "text"))
    assert(got == want, "streamed Gopher census diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming scene-cut gate: two waves equal the batch cut table bit for bit") {
    import graft.multimodal.Multimodal
    val vids = (1L to 20L).map { id =>
      val n1 = (id % 3 + 2).toInt
      val a1 = (30 + (id % 4) * 7).toInt
      (id, Multimodal.gifVideoScenes(16, 12,
        Seq.fill(n1)((a1, 25, 0)) ++ Seq.fill(2)((256 - a1, 25, 0))))
    }.toDF("id", "content")
    val dir = Files.createTempDirectory("scenestream").toString
    vids.filter(col("id") % 2 === 0).write.parquet(s"$dir/w1")
    vids.filter(col("id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.sceneCutStream(
      spark.readStream
        .schema("id LONG, content BINARY")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      tau = 4)
    val q = stream.writeStream
      .format("memory").queryName("scenecut").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(Option(_).map(_.toString))).toSet
    val got = canon(spark.table("scenecut"))
    val want = canon(Multimodal.sceneCuts(spark, vids, tau = 4))
    assert(got == want, "streamed scene cuts diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming blocklist gate: two waves equal the batch census bit for bit") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    // the same md5-derived fixture blocklist text_blocklist uses
    val terms = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(lower(col("tok")).as("term")).distinct()
      .filter(graft.operators.Dedup.md5Long(
        concat(col("term"), lit(":blk"))) % 23 === 0)
      .as[String].collect().toSeq
    val dir = Files.createTempDirectory("blkstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.blocklistAdmitStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", terms, maxHitFrac = 0.05)
    val q = stream.writeStream
      .format("memory").queryName("blk").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(Option(_).map(_.toString))).toSet
    val got = canon(spark.table("blk"))
    val want = canon(graft.operators.TextAnalysis.blocklistStats(
      docs, "doc_id", "text", terms.toDF("term"), maxHitFrac = 0.05))
    assert(got == want, "streamed blocklist census diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming CMS: drained stream equals the batch sketch cell for cell") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("cmsstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.cmsStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "text", depth = 4, width = 512)
    val q = stream.writeStream
      .format("memory").queryName("cms").outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    // counts are monotone, so the final sketch is the max emission per cell
    val got = spark.table("cms")
      .groupBy(col("j"), col("b")).agg(max(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = StreamingOps.cmsStream(docs, "text", 4, 512) // same algebra, batch
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // bounded state: the cell count can never exceed the sketch geometry
    assert(got.size <= 4 * 512)
  }

  test("streaming decontamination cascade: per-doc rows bit-equal to batch on a two-wave split") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val evalC = docs.filter(col("doc_id") % 50 === 0)
    val dir = Files.createTempDirectory("dccstream").toString
    train.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    train.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.decontaminateCascadeStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      evalC, "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("dcc").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3)))
      .sortBy(_._1).toSeq
    val got = canon(spark.table("dcc"))
    val want = canon(graft.operators.Dedup
      .decontaminateCascade(train, evalC, "doc_id", "text"))
    assert(got == want, "streamed cascade diverged from batch")
    assert(got.nonEmpty && got.exists(_._2 != "clean"))
  }

  test("streaming KL-drift counters: drained census bit-equal to the batch klDrift") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("kldstream").toString
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 3 =!= 0).write.parquet(s"$dir/w2")
    val stream = StreamingOps.klDriftCountsStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      col("doc_id") % 2 === 0, "text")
    val q = stream.writeStream
      .format("memory").queryName("kld").outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    // counts are monotone: final state per term = max emission
    import spark.implicits._
    val drained = spark.table("kld")
      .groupBy(col("w"))
      .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
    val got = graft.operators.TextAnalysis
      .klDriftFromCounts(drained).head.toSeq
    val want = graft.operators.TextAnalysis
      .klDrift(docs, col("doc_id") % 2 === 0, "text").head.toSeq
    assert(got == want, s"drained census $got != batch $want")
  }

  test("streaming heavy hitters: two waves converge to the exact batch counts") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("hhstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.heavyHittersStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "text", capacity = 64, buckets = 8)
    val q = stream.toDF("bucket", "tok", "est", "dec").writeStream
      .format("memory").queryName("hh").outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    val emitted = spark.table("hh")
    // capacity >= per-bucket vocabulary: the exact regime — dec stays 0
    // on every emission and est per token is monotone, so the final
    // summary is the max emission per token and must equal exact counts
    assert(emitted.agg(max(col("dec"))).collect().head.getLong(0) == 0L)
    val got = emitted.groupBy(col("tok")).agg(max(col("est")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming embedding admission: stream-static multiprobe == batch; planted dup admitted") {
    import graft.functions.VectorFunctions.toDouble
    val emb = Q.t(spark, sf0001, "embeddings").select(
      col("vec_id").cast("long").as("vec_id"),
      toDouble(col("embedding")).as("vec"))
    val corpus = emb.filter(col("vec_id") < 300)
    // arrivals: the rest of the table plus 5 PLANTED near-copies of
    // corpus vectors (+1e-6 on one dim -> cosine ~ 1) that MUST admit
    val planted = corpus.orderBy("vec_id").limit(5).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("vec"), (x, i) =>
        when(i === 0, x + lit(1e-6)).otherwise(x)).as("vec"))
    val arrivals = emb.filter(col("vec_id") >= 300).unionAll(planted)
    val dir = Files.createTempDirectory("admitstream").toString
    arrivals.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/w1")
    arrivals.filter(col("vec_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.embeddingAdmitStream(
      spark.readStream
        .schema("vec_id LONG, vec ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      corpus, "vec_id", "vec", tau = 0.9, dim = 64)
    val q = stream.writeStream
      .format("memory").queryName("admit").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    // per-band duplicates collapse under the set compare (documented
    // at-least-once within the result)
    val got = spark.table("admit").collect().map(key).toSet
    val want = StreamingOps
      .embeddingAdmitStream(arrivals, corpus, "vec_id", "vec", tau = 0.9, dim = 64)
      .collect().map(key).toSet
    assert(got == want, "streamed admission diverged from the batch twin")
    val plantedIds = (100000L until 100005L).toSet
    assert(plantedIds.subsetOf(got.map(_._1)),
      s"planted near-dups not admitted: ${plantedIds -- got.map(_._1)}")
  }

  test("streaming winnow signatures: two waves bit-equal the batch fingerprints") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("winnowstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.winnowSignatureStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text")
    val q = stream.writeStream
      .format("memory").queryName("winnowsig").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("winnowsig").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // the batch half uses the per-doc WINDOW spelling; the stream twin
    // must reproduce it bit for bit through the row-local HOF spelling
    val want = graft.operators.Dedup
      .winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want, "streamed winnow fingerprints diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming unigram encode: two waves bit-equal the batch token stream") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val model = graft.operators.TextAnalysis.unigramTrain(
      docs, "text", maxPieceLen = 4, minCount = 5, rounds = 2, alpha = 0.5)
    val dir = Files.createTempDirectory("unistream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.unigramEncodeStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", model)
    val q = stream.writeStream
      .format("memory").queryName("uniencode").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("uniencode").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.operators.TextAnalysis
      .unigramEncode(docs, "doc_id", "text", model)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, "streamed unigram encode diverged from batch")
    assert(got.nonEmpty && got.forall(_._3 > 0))
  }

  test("streaming wordpiece encode: two waves bit-equal the batch token stream") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val merges = graft.operators.TextAnalysis.wordPieceTrain(
      docs, "text", numMerges = 12, minPairCount = 2)
    val vocab = graft.operators.TextAnalysis.wordPieceVocab(docs, "text", merges)
    val dir = Files.createTempDirectory("wpstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.wordPieceEncodeStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", vocab)
    val q = stream.writeStream
      .format("memory").queryName("wpencode").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("wpencode").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = graft.operators.TextAnalysis
      .wordPieceEncode(docs, "doc_id", "text", vocab)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want, "streamed wordpiece encode diverged from batch")
    assert(got.nonEmpty && got.forall(_._3 > 0))
  }

  test("streaming spherical assign: two waves bit-equal the batch E-step") {
    val emb = Q.t(spark, sf0001, "embeddings").select(
      col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val cents = graft.operators.SphericalKMeans
      .fitDeterministic(emb, "vec_id", "v", k = 3, rounds = 2)
      .collect()
      .foldLeft(Array.ofDim[Double](3, 64)) { (acc, r) =>
        acc(r.getLong(0).toInt)(r.getLong(1).toInt - 1) = r.getDouble(2); acc
      }
    val dir = Files.createTempDirectory("skmstream").toString
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/w1")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.sphericalAssignStream(
      spark.readStream
        .schema("vec_id LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "vec_id", "v", cents)
    val q = stream.writeStream
      .format("memory").queryName("skmassign").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("skmassign").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.SphericalKMeans
      .assign(emb, "vec_id", "v", cents)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "streamed spherical assign diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming qld scorer: two waves bit-equal the batch ranking's scores") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val terms = Seq("vector", "hash", "stream", "query")
    // frozen collection stats from the batch corpus
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val ctot = toks.count()
    val cf = toks.filter(col("w").isin(terms: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dir = Files.createTempDirectory("qldstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.qldScoreStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", terms, cf, ctot)
    val q = stream.writeStream
      .format("memory").queryName("qldscore").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("qldscore").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // batch ranking over the whole corpus (k = all docs) — the stream
    // must reproduce every document's score bit-for-bit
    val n = docs.count().toInt
    val want = graft.operators.TextSearch
      .queryLikelihood(docs, "doc_id", "text", terms, mu = 100.0, k = n)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, s) =>
      assert(got(id) == s, s"doc $id: stream ${got(id)} vs batch $s")
    }
  }

  test("streaming textrank salience: two waves bit-equal the batch scorer") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val kw = graft.operators.TextRank
      .keywords(docs, "doc_id", "text", minCount = 2, topK = 50)
      .collect()
      .map(r => r.getString(1) -> r.getDouble(2))
      .toMap
    val dir = Files.createTempDirectory("trstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.textRankSalienceStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", kw)
    val q = stream.writeStream
      .format("memory").queryName("trsal").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("trsal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.TextRank
      .salience(docs, "doc_id", "text", kw)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "streamed textrank salience diverged from batch")
    assert(got.nonEmpty && got.exists(_._2 > 0))
  }

  test("streaming feature hash: two waves bit-equal the batch featurizer") {
    val docs = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val batch = graft.operators.TextAnalysis
      .hashedTfidf(docs, "doc_id", "text", 16).localCheckpoint()
    // batch-frozen idf, computed through Spark's own ln (StrictMath)
    val nDocs = docs.count().toDouble
    val idf = batch.groupBy(col("bucket")).agg(count(lit(1)).as("dfb"))
      .select(col("bucket"), log(lit(nDocs) / col("dfb")).as("idf"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dir = Files.createTempDirectory("fhashstream").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.featureHashStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      "doc_id", "text", idf)
    val q = stream.writeStream
      .format("memory").queryName("fhash").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("fhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want, "streamed feature hash diverged from batch")
  }

  test("streaming winnow admission gate: planted carriers flagged, batch twin equal") {
    val all = Q.t(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") < 30).localCheckpoint()
    // arrivals: fresh docs + planted near-verbatim carriers of corpus
    // docs 3 and 7 (full text embedded in extra prose → containment 1.0)
    val carriers = corpus
      .filter(col("doc_id").isin(3L, 7L))
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("prefix chatter "), col("text"), lit(" suffix chatter"))
          .as("text"))
    val arrivals = all.filter(col("doc_id") >= 30 && col("doc_id") < 60)
      .unionAll(carriers).localCheckpoint()
    val dir = Files.createTempDirectory("wadmit").toString
    arrivals.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/w1")
    arrivals.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/w2")
    val stream = StreamingOps.winnowAdmitStream(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*"),
      corpus, "doc_id", "text", tau = 0.8)
    val q = stream.writeStream
      .format("memory").queryName("wadmit").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val got = spark.table("wadmit").collect().map(key).toSet
    val want = StreamingOps
      .winnowAdmitStream(arrivals, corpus, "doc_id", "text", tau = 0.8)
      .collect().map(key).toSet
    assert(got == want, "streamed admission gate diverged from the batch twin")
    val flagged = got.map(t => (t._1, t._2))
    assert(flagged.contains((100003L, 3L)) && flagged.contains((100007L, 7L)),
      s"planted carriers not flagged: $flagged")
    got.filter(t => t._1 >= 100000L).foreach(t =>
      assert(t._4 == 1.0, s"full-containment carrier scored ${t._4}"))
  }
}
