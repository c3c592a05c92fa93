package graft

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.{Artifacts, Q}

/** The resident-graph serving of [[DistributedHnsw]]: every search equals
  * its per-call cogroup twin in [[DistributedHnswRelational]] row for row,
  * doubles by bit pattern, and each shard's searcher is replayed once per
  * index and released by [[DistributedHnsw.Shards.unpersist]].
  */
class ResidentHnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Q.t(spark, sf0001, "embeddings")
    .select(col("vec_id"), toDouble(col("embedding")).as("vec"), col("label"))
  private def queriesOf(df: DataFrame) = df
    .filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("query_id"), col("vec").as("qv"))
  private val params = HnswParams(m = 8, efConstruction = 50)

  /** Rows as strings, doubles by their bit pattern, sorted: equal lists
    * are the same rows, value for value. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case x         => String.valueOf(x)
    }.mkString("|")).sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    val (g, w) = (bits(got), bits(want))
    assert(w.nonEmpty || what.contains("empty"), s"$what: the twin returned no rows")
    assert(g == w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  private def residentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.name == "DistributedHnsw.resident" => id
    }.toSet

  test("search and every searchEfCurve slice == the cogroup twin, bit for bit") {
    val shards = DistributedHnsw.build(emb, "vec_id", "vec", params, 4, seed = 42)
    val qs = queriesOf(emb)
    for (k <- Seq(1, 10); ef <- Seq(-1, 40))
      assertSame(s"search k=$k ef=$ef",
        DistributedHnsw.search(shards, qs, "query_id", "qv", k, ef),
        DistributedHnswRelational.searchRelational(shards, qs, "query_id", "qv", k, ef))
    val efs = Seq(10, 20, 50, -1)
    val curve = DistributedHnsw.searchEfCurve(shards, qs, "query_id", "qv", 10, efs)
    assertSame("searchEfCurve", curve,
      DistributedHnswRelational.searchEfCurveRelational(shards, qs, "query_id", "qv", 10, efs))
    for (ef <- efs)
      assertSame(s"searchEfCurve slice ef=$ef",
        curve.filter(col("ef") === ef).drop("ef"),
        DistributedHnswRelational.searchRelational(shards, qs, "query_id", "qv", 10, ef))
    shards.unpersist()
  }

  test("searchRouted at all and at partial probes == the cogroup twin") {
    val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val shards = DistributedHnsw.buildClustered(emb, "vec_id", "vec", params, cents, seed = 42)
    val qs = queriesOf(emb)
    for (probes <- Seq(cents.length, 3, 1))
      assertSame(s"searchRouted probes=$probes",
        DistributedHnsw.searchRouted(shards, qs, "query_id", "qv", 10, cents, probes),
        DistributedHnswRelational.searchRoutedRelational(
          shards, qs, "query_id", "qv", 10, cents, probes))
    shards.unpersist()
  }

  test("compressed search == the cogroup twin: persisted codes, derived codes, save/load") {
    val comp = new PQCompression(ProductQuantizer.train(emb, "vec", m = 8, k = 16, seed = 6))
    val qs = queriesOf(emb)
    val pq = DistributedHnsw.build(emb, "vec_id", "vec", params, 3, seed = 6,
      compression = Some(comp))
    assertSame("compressed, persisted codes",
      DistributedHnsw.search(pq, qs, "query_id", "qv", 10, compression = Some(comp)),
      DistributedHnswRelational.searchRelational(pq, qs, "query_id", "qv", 10,
        compression = Some(comp)))
    // a raw-only index searched with a codec: one resident per payload
    val raw = DistributedHnsw.build(emb, "vec_id", "vec", params, 3, seed = 6)
    assertSame("compressed, derived codes",
      DistributedHnsw.search(raw, qs, "query_id", "qv", 10, compression = Some(comp)),
      DistributedHnswRelational.searchRelational(raw, qs, "query_id", "qv", 10,
        compression = Some(comp)))
    assertSame("raw beside compressed on one index",
      DistributedHnsw.search(raw, qs, "query_id", "qv", 10),
      DistributedHnswRelational.searchRelational(raw, qs, "query_id", "qv", 10))
    val path = GraftSparkInternals.createTempDir("resident").getPath + "/idx"
    DistributedHnsw.save(pq, path)
    val loaded = DistributedHnsw.load(spark, path, pq.params, 3)
    assertSame("loaded, compressed",
      DistributedHnsw.search(loaded, qs, "query_id", "qv", 10, compression = Some(comp)),
      DistributedHnswRelational.searchRelational(pq, qs, "query_id", "qv", 10,
        compression = Some(comp)))
    assertSame("loaded, raw",
      DistributedHnsw.search(loaded, qs, "query_id", "qv", 10),
      DistributedHnswRelational.searchRelational(pq, qs, "query_id", "qv", 10))
    Seq(pq, raw, loaded).foreach(_.unpersist())
  }

  test("searchFiltered and searchWithTombstones == the cogroup twin") {
    val shards = DistributedHnsw.build(emb, "vec_id", "vec", params, 4, seed = 42)
    val qs = queriesOf(emb)
    val half = emb.filter(col("label") <= 4).select(col("vec_id"))
    for ((name, allowed) <- Seq("all" -> emb.select(col("vec_id")), "half" -> half,
        "empty" -> emb.filter(lit(false)).select(col("vec_id"))))
      assertSame(s"searchFiltered $name",
        DistributedHnsw.searchFiltered(shards, qs, "query_id", "qv", 10, allowed, 60),
        DistributedHnswRelational.searchFilteredRelational(
          shards, qs, "query_id", "qv", 10, allowed, 60))
    val tomb = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    for ((name, t) <- Seq("a third" -> tomb,
        "no" -> emb.filter(lit(false)).select(col("vec_id"))))
      assertSame(s"searchWithTombstones $name",
        DistributedHnsw.searchWithTombstones(shards, qs, "query_id", "qv", 10, t),
        DistributedHnswRelational.searchWithTombstonesRelational(
          shards, qs, "query_id", "qv", 10, t))
    shards.unpersist()
  }

  test("degenerate inputs == the cogroup twin: empty shards, k above a shard, empty queries") {
    val tiny = emb.filter(col("vec_id") < 5)
    // 8 shards over 5 vectors: three shards hold nothing
    val sparse = DistributedHnsw.build(tiny, "vec_id", "vec", params, 8, seed = 1)
    val tq = tiny.select(col("vec_id").as("query_id"), col("vec").as("qv"))
    assertSame("more shards than vectors, k = 3",
      DistributedHnsw.search(sparse, tq, "query_id", "qv", 3),
      DistributedHnswRelational.searchRelational(sparse, tq, "query_id", "qv", 3))
    // 12 vectors over 4 shards: 3 per shard, k = 5 takes every node
    val small = emb.filter(col("vec_id") < 12)
    val few = DistributedHnsw.build(small, "vec_id", "vec", params, 4, seed = 1)
    val sq = small.select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val got = DistributedHnsw.search(few, sq, "query_id", "qv", 5)
    assertSame("k larger than a shard", got,
      DistributedHnswRelational.searchRelational(few, sq, "query_id", "qv", 5))
    assert(got.count() == 12 * 5)
    val none = sq.limit(0)
    assertSame("empty query frame",
      DistributedHnsw.search(few, none, "query_id", "qv", 5),
      DistributedHnswRelational.searchRelational(few, none, "query_id", "qv", 5))
    assertSame("empty query frame, ef curve",
      DistributedHnsw.searchEfCurve(few, none, "query_id", "qv", 5, Seq(5, 10)),
      DistributedHnswRelational.searchEfCurveRelational(few, none, "query_id", "qv", 5,
        Seq(5, 10)))
    Seq(sparse, few).foreach(_.unpersist())
  }

  test("one replay per shard across 5 searches and across 4 concurrent first callers") {
    val qs = queriesOf(emb)
    val serial = DistributedHnsw.build(emb, "vec_id", "vec", params, 4, seed = 42)
    serial.edges.count()
    assert(serial.shardReplays == 0L, "build must not replay a searcher")
    val first = bits(DistributedHnsw.search(serial, qs, "query_id", "qv", 10))
    for (_ <- 1 to 4)
      assert(bits(DistributedHnsw.search(serial, qs, "query_id", "qv", 10)) == first)
    assert(serial.shardReplays == 4L, s"${serial.shardReplays} replays over 4 shards")

    val shared = DistributedHnsw.build(emb, "vec_id", "vec", params, 4, seed = 42)
    shared.edges.count()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try Await.result(Future.sequence((1 to 4).map(_ =>
        Future(bits(DistributedHnsw.search(shared, qs, "query_id", "qv", 10))))), 5.minutes)
      finally pool.shutdown()
    assert(results.forall(_ == first), "concurrent callers disagree")
    assert(shared.shardReplays == 4L, s"${shared.shardReplays} replays over 4 shards")
    Seq(serial, shared).foreach(_.unpersist())
  }

  test("unpersist and Artifacts.drop release the resident graph; a later search rebuilds it") {
    val qs = queriesOf(emb)
    val shards = DistributedHnsw.build(emb, "vec_id", "vec", params, 2, seed = 3)
    val before = residentIds()
    val want = bits(DistributedHnsw.search(shards, qs, "query_id", "qv", 5))
    val held = residentIds() -- before
    assert(held.size == 1, s"one resident graph expected, got $held")
    shards.unpersist()
    assert((residentIds() intersect held).isEmpty, "unpersist left the resident graph")
    assert(bits(DistributedHnsw.search(shards, qs, "query_id", "qv", 5)) == want)
    assert(shards.shardReplays == 4L, "the rebuild replays each shard once more")
    shards.unpersist()

    val dir = s"resident-${System.nanoTime}"
    val memo = Artifacts.get("resident_spec", dir)(
      DistributedHnsw.build(emb, "vec_id", "vec", params, 2, seed = 3))
    val pre = residentIds()
    DistributedHnsw.search(memo, qs, "query_id", "qv", 5).collect()
    val memoHeld = residentIds() -- pre
    assert(memoHeld.size == 1)
    Artifacts.drop("resident_spec", dir)
    assert((residentIds() intersect memoHeld).isEmpty, "Artifacts.drop left the resident graph")
  }

  test("a resident graph stays held until unpersist, even once its Shards is unreachable") {
    val before = residentIds()
    def searchAndDrop(): Unit = {
      val shards = DistributedHnsw.build(emb, "vec_id", "vec", params, 2, seed = 3)
      DistributedHnsw.search(shards, queriesOf(emb), "query_id", "qv", 5).collect()
    }
    searchAndDrop()
    val held = residentIds() -- before
    assert(held.size == 1)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    assert(held.subsetOf(residentIds()),
      "an unreferenced index lost its resident graph to garbage collection")
    held.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist(blocking = false))
  }

  /** Shuffle bytes written by the jobs `body` starts on this thread. */
  private def shuffleWriteOf(body: => Any): Long = {
    val sc = spark.sparkContext
    val group = s"shuffle-write-${System.nanoTime}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && group == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; GraftSparkInternals.drainListenerBus(sc); bytes.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("a warm search's shuffle-write stays flat when the corpus doubles") {
    val d = 16
    def corpus(n: Int): DataFrame = {
      val r = new Random(11)
      (0 until n).map(i => (i.toLong, Seq.fill(d)(r.nextGaussian()))).toDF("id", "vec")
    }
    val r = new Random(12)
    val qs = (0 until 30).map(i => (1000000L + i, Seq.fill(d)(r.nextGaussian())))
      .toDF("query_id", "qv")
    def warm(n: Int): (Long, Long) = {
      val shards = DistributedHnsw.build(corpus(n), "id", "vec", params, 4, seed = 5)
      DistributedHnsw.search(shards, qs, "query_id", "qv", 10).collect()
      val resident = shuffleWriteOf(
        DistributedHnsw.search(shards, qs, "query_id", "qv", 10).collect())
      val cogroup = shuffleWriteOf(
        DistributedHnswRelational.searchRelational(shards, qs, "query_id", "qv", 10).collect())
      shards.unpersist()
      (resident, cogroup)
    }
    val (small, smallTwin) = warm(600)
    val (large, largeTwin) = warm(1200)
    info(s"warm shuffle-write bytes: resident $small -> $large, cogroup $smallTwin -> $largeTwin")
    assert(small > 0L)
    assert(large <= small + small / 10, s"resident search shuffle grew: $small -> $large")
    // the measurement sees corpus-sized shuffles: the per-call twin grows
    assert(largeTwin > smallTwin + smallTwin / 2, s"twin: $smallTwin -> $largeTwin")
    assert(small < smallTwin, s"resident $small vs cogroup $smallTwin")
  }

  test("search rejects a query with a NaN component by name") {
    val shards = DistributedHnsw.build(emb, "vec_id", "vec", params, 2, seed = 5)
    val w = emb.head().getSeq[Double](1).length
    val q = Seq((7L, Seq.tabulate(w)(i => if (i == 3) Double.NaN else 0.5)))
      .toDF("query_id", "qv")
    for ((name, run) <- Seq[(String, () => Unit)](
        "search" -> (() => DistributedHnsw.search(shards, q, "query_id", "qv", 5).collect()),
        "searchFiltered" -> (() => DistributedHnsw.searchFiltered(shards, q, "query_id", "qv",
          5, emb.select(col("vec_id"))).collect()))) {
      val e = intercept[Exception](run())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("query 7") && c.getMessage.contains("NaN")),
        s"$name: ${chain.map(_.toString).mkString(" <- ")}")
    }
    shards.unpersist()
  }
}
