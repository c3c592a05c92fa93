package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators._
import graft.streaming.StreamingOps

/** `ann_ingest`: the vector read and write paths over one seeded Gaussian
  * mixture (D = 64, the `embeddings` dimension).
  *
  * Set-up writes the base vectors and a query pool with disjoint ids, builds
  * HNSW shards over the base (forced to materialize), the coarse cells, the
  * PQ codebooks and an IVF-ADC index, computes exact truth for the pool,
  * starts `StreamingOps.cdcIvfAdcSink` over a parquet file source that takes
  * one file per trigger, and runs one rotation of the ops, untimed.
  *
  * Ops rotate: exact, HNSW and IVF-ADC search of one seeded pool batch
  * (results collected, never counted), one ingest op, which drops a seeded
  * CDC file (new ids, re-upserts of live ids, deletes) and times
  * `processAllAvailable()`, and IVF-ADC search again. A pass is
  * `compactEvery` rotations followed by an `IvfAdc.compact` op, so each
  * pass ends with the index compacted and the next starts from a like
  * state. Exact and HNSW search the static base; IVF-ADC search reads the
  * live index, so the small files and tombstones that pile up between
  * compactions show in its latency. The index's bytes per live vector are sampled
  * after every ingest and compaction.
  */
final class AnnIngest(run: Run) extends Workload {
  import Vectors._
  private val spark = run.spark

  val n0 = 5000
  val clusters = 32
  val sigma = 0.35
  val poolSize = 200
  val batch = 50
  val hnsw = HnswParams(m = 12, efConstruction = 48, efSearch = 64)
  val shards = 4
  val cells = 16
  val nprobe = 4
  val pqM = 8
  val pqK = 64
  val kmeansIter = 4
  val newPerBatch = 100
  val reupsertsPerBatch = 25
  val deletesPerBatch = 25
  val compactEvery = 2
  // IVF-ADC search both before and after each ingest, so it sees the
  // index with and without the newest file
  val rotation = Seq("exact", "hnsw", "ivfadc", "ingest", "ivfadc")

  private val dir = run.dataDir.resolve("ann").toString
  private val indexPath = s"$dir/ivfadc"
  private val srcDir = s"$dir/cdc"
  private val staging = s"$dir/staging"
  private val poolBase = 1000000000L
  private val mix = new Data.Mixture(run.seed, D, clusters, sigma)

  private var base: DataFrame = _
  private var pool: Map[Long, Array[Double]] = Map.empty
  private var built: DistributedHnsw.Shards = _
  private var centroids: Array[Array[Double]] = _
  private var model: PQModel = _
  private var truth: Map[Long, IndexedSeq[(Double, Long)]] = Map.empty
  private var query: StreamingQuery = _
  private val live = mutable.LinkedHashMap[Long, Array[Double]]()
  private val superseded = mutable.HashMap[Long, List[Array[Double]]]()
  private val deleted = mutable.HashSet[Long]()
  private var nextId = n0.toLong
  private var ingests = 0

  def inputs: Seq[(String, String)] = Seq(
    "n0" -> n0.toString, "d" -> D.toString, "clusters" -> clusters.toString,
    "latent_dim" -> mix.latent.toString, "sigma" -> Json.num(sigma),
    "noise" -> Json.num(mix.noise), "pool" -> poolSize.toString, "batch" -> batch.toString,
    "k" -> K.toString, "rotation" -> Json.arr(rotation.map(Json.str)),
    "hnsw" -> Json.obj("m" -> hnsw.m.toString, "ef_construction" -> hnsw.efConstruction.toString,
      "ef_search" -> hnsw.efSearch.toString, "shards" -> shards.toString),
    "ivf" -> Json.obj("cells" -> cells.toString, "nprobe" -> nprobe.toString,
      "kmeans_iterations" -> kmeansIter.toString),
    "pq" -> Json.obj("m" -> pqM.toString, "k" -> pqK.toString),
    "cdc" -> Json.obj("new" -> newPerBatch.toString, "reupserts" -> reupsertsPerBatch.toString,
      "deletes" -> deletesPerBatch.toString, "max_files_per_trigger" -> "1"),
    "compact_every" -> compactEvery.toString)

  def tables: (String, Seq[String]) = (dir, Seq("base", "pool"))

  def setup(): Unit = {
    run.span("client", "generate") {
      write(spark, mix, 1, 0L, n0, s"$dir/base.parquet", 4)
      write(spark, mix, 2, poolBase, poolSize, s"$dir/pool.parquet", 1)
    }
    base = spark.read.parquet(s"$dir/base.parquet")
    base.collect().foreach(r => live(r.getLong(0)) = r.getSeq[Double](1).toArray)
    pool = spark.read.parquet(s"$dir/pool.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    built = run.span("operators", "DistributedHnsw.build") {
      val s = DistributedHnsw.build(base, "id", "vec", hnsw, shards, run.seed)
      // the build is lazy: materialize the graph so set-up pays for it
      s.edges.count(); s.entries.count(); s.vectors.count()
      s
    }
    centroids = run.span("operators", "KMeans.fit")(
      KMeans.fit(base, "vec", cells, run.seed, maxIter = kmeansIter).centroids)
    model = run.span("operators", "ProductQuantizer.train")(
      ProductQuantizer.train(base, "vec", pqM, pqK, run.seed))
    run.span("operators", "IvfAdc.build")(
      IvfAdc.build(spark, base, "id", "vec", centroids, model, indexPath))
    truth = run.span("operators", "BruteForceKNN.knn:truth")(byQuery(
      BruteForceKNN.knn(queries(spark.read.parquet(s"$dir/pool.parquet")),
        base.select(col("id").as("neighbor_id"), col("vec").as("bv")), K).collect()))
    Files.createDirectories(Paths.get(srcDir))
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>, op STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    // stream jobs run on the query's own thread; they carry no op span and
    // are attributed to the op whose interval holds them
    spark.sparkContext.setLocalProperty("perfbench.span", null)
    query = run.span("streaming", "cdcIvfAdcSink.start")(StreamingOps.cdcIvfAdcSink(
      stream, "id", "vec", "op", centroids, model, indexPath, s"$dir/checkpoint"))
    // one untimed rotation, so the timed ops run on warm code
    // paths (JIT, codegen, the sink's first micro-batch)
    run.span("client", "warm") {
      for ((kind, k) <- rotation.zipWithIndex) {
        val o = rotationOp(-1 - k, kind)
        o.prepare()
        o.check(o.call())._1.foreach(e => throw new IllegalStateException(s"warm-up ${o.kind}: $e"))
      }
    }
  }

  def pass: Int = compactEvery * rotation.size + 1

  def op(i: Int): Op =
    if (i % pass == pass - 1)
      Op("compact", "compact",
        () => run.span("operators", "IvfAdc.compact")(IvfAdc.compact(spark, indexPath)),
        _ => (None, indexSize()))
    else rotationOp(i, rotation(i % pass % rotation.size))

  private def rotationOp(i: Int, kind: String): Op = kind match {
    case "ingest" =>
      ingests += 1
      ingestOp(ingests)
    case method => searchOp(i, method)
  }

  private def batchOf(i: Int): Seq[Long] =
    Run.shuffle(pool.keys.toSeq.sorted, run.seed, 10000L + i).take(batch)

  private def searchOp(i: Int, method: String): Op = {
    val asked = batchOf(i)
    val qdf = queries(frame(spark, asked.map(q => q -> pool(q))))
    val call: () => Any = method match {
      case "exact" => () => run.span("operators", "BruteForceKNN.knn")(BruteForceKNN.knn(
        qdf, base.select(col("id").as("neighbor_id"), col("vec").as("bv")), K).collect())
      case "hnsw" => () => run.span("operators", "DistributedHnsw.search")(
        DistributedHnsw.search(built, qdf, "query_id", "qv", K).collect())
      case "ivfadc" => () => run.span("operators", "IvfAdc.searchPartitioned")(search(qdf))
    }
    Op(method, method, call, check = r => {
      val got = byQuery(r.asInstanceOf[Array[Row]])
      val failed = method match {
        case "exact" => asked.find(q => !sameNeighbours(got.getOrElse(q, IndexedSeq.empty), truth(q)))
          .map(q => s"query $q: exact result differs from the set-up truth")
        case "hnsw" => annCheck(asked, got, id => id >= 0 && id < n0)
        case "ivfadc" => liveCheck(asked, got)
      }
      (failed, Seq("queries" -> asked.size.toString, "pairs" -> (asked.size.toLong * n0).toString,
        "ids" -> idsJson(asked, got)))
    })
  }

  /** Same ids in the same rank order, and the same distances up to the
    * last bits of a re-associated float sum.
    */
  private def sameNeighbours(a: IndexedSeq[(Double, Long)], b: IndexedSeq[(Double, Long)]): Boolean =
    a.map(_._2) == b.map(_._2) &&
      a.zip(b).forall { case (x, y) => math.abs(x._1 - y._1) <= 1e-9 * math.max(1.0, y._1) }

  private def search(qdf: DataFrame): Array[Row] =
    IvfAdc.searchPartitioned(spark, indexPath, qdf, "query_id", "qv", centroids, model, K, nprobe)
      .collect()

  /** The live-index checks: no deleted id, no superseded version, no id
    * twice, then k rows per query in distance order with live ids.
    */
  private def liveCheck(asked: Seq[Long], got: Map[Long, IndexedSeq[(Double, Long)]]): Option[String] = {
    val rows = asked.flatMap(q => got.getOrElse(q, Nil).map(q -> _))
    rows.collectFirst {
      case (q, (_, id)) if deleted.contains(id) => s"query $q: deleted id $id returned"
      case (q, (d, id)) if live.contains(id) && stale(pool(q), d, id) =>
        s"query $q: superseded version of id $id returned"
    }.orElse(asked.find(q => got.get(q).exists(r => r.map(_._2).distinct.size != r.size))
      .map(q => s"query $q: an id is returned twice"))
      .orElse(annCheck(asked, got, live.contains))
  }

  /** The returned (approximate) distance matches a superseded version of
    * the id four times better than its live version: the index served a
    * stale row. Versions sit in different clusters, so their distances
    * differ by far more than the quantization error.
    */
  private def stale(q: Array[Double], dist: Double, id: Long): Boolean = {
    val now = math.abs(dist - KMeansLocal.l2Sq(q, live(id)))
    superseded.getOrElse(id, Nil).exists(old => 4 * math.abs(dist - KMeansLocal.l2Sq(q, old)) < now)
  }

  private val cdcSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType)),
    StructField("op", StringType)))

  /** CDC file `j`: fresh ids, re-upserts of live ids into another mixture
    * cluster (so a stale version sits far from the live one), and deletes
    * of other live ids.
    */
  private def ingestOp(j: Int): Op = {
    val r = Data.rng(run.seed, 20000L, j)
    val fresh = (0 until newPerBatch).map { k => val id = nextId + k; id -> mix.point(3, id) }
    val touched = Run.shuffle(live.keys.toSeq, run.seed, 30000L + j)
      .take(reupsertsPerBatch + deletesPerBatch)
    val moved = touched.take(reupsertsPerBatch).map { id =>
      val c = (mix.nearest(live(id)) + 1 + r.nextInt(clusters - 1)) % clusters
      id -> mix.pointIn(4, id * 1000 + j, c)
    }
    val dels = touched.drop(reupsertsPerBatch)
    Op("ingest", "ingest",
      prepare = () => {
        val out = f"$staging/b$j%06d"
        val data = (fresh ++ moved).map { case (id, v) => Row(id, v.toSeq, "upsert") } ++
          dels.map(id => Row(id, null, "delete"))
        spark.createDataFrame(spark.sparkContext.parallelize(data, 1), cdcSchema)
          .write.parquet(out)
        // the source must never see a half-written directory
        Files.move(Paths.get(out), Paths.get(f"$srcDir/b$j%06d"))
      },
      call = () => run.span("streaming", "cdcIvfAdcSink.processAllAvailable")(
        query.processAllAvailable()),
      check = _ => {
        nextId += fresh.size
        fresh.foreach { case (id, v) => live(id) = v }
        moved.foreach { case (id, v) =>
          superseded(id) = live(id) :: superseded.getOrElse(id, Nil)
          live(id) = v
        }
        dels.foreach { id => live.remove(id); deleted += id }
        (query.exception.map(e => s"stream failed: ${e.getMessage}"),
          Seq("rows" -> (fresh.size + moved.size + dels.size).toString) ++ indexSize())
      })
  }

  /** On-disk bytes and files of the index with its log, and live vectors. */
  private def indexSize(): Seq[(String, String)] = {
    val (b1, f1) = Run.du(Paths.get(indexPath))
    val (b2, f2) = Run.du(Paths.get(indexPath + ".log"))
    Seq("index_bytes" -> (b1 + b2).toString, "index_files" -> (f1 + f2).toString,
      "live_vectors" -> live.size.toString)
  }

  override def tracedFields(op: Op, result: Any): Seq[(String, String)] =
    if (op.kind != "ivfadc") Nil
    else {
      val rows = spark.read.parquet(indexPath).groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val asked = result.asInstanceOf[Array[Row]].map(_.getAs[Long]("query_id")).distinct
      val scanned = asked.map(q => probe(pool(q), centroids, nprobe).map(c => rows.getOrElse(c, 0L)).sum).sum
      indexSize() :+ ("codes_scanned" -> scanned.toString)
    }

  override def finish(): Seq[(String, String)] = {
    query.stop()
    query.awaitTermination()
    val asked = pool.keys.toSeq.sorted
    val qdf = queries(frame(spark, asked.map(q => q -> pool(q))))
    val exactLive = byQuery(BruteForceKNN.knn(qdf,
      frame(spark, live.toSeq).select(col("id").as("neighbor_id"), col("vec").as("bv")), K).collect())
    Seq("truth" -> idsJson(asked, truth), "live_truth" -> idsJson(asked, exactLive),
      "live_ids" -> idsJson(asked, byQuery(search(qdf))))
  }
}
