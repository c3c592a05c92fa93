package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.queries.Q
import graft.operators._

/** Codec wrapper that counts encode calls in a JVM-static counter —
  * local[*] runs every task in one JVM, so the count is exact. Used to pin
  * "compressed search never re-encodes the corpus".
  */
object CountingCompression {
  val encodes = new java.util.concurrent.atomic.AtomicLong()
}
final class CountingCompression(inner: VectorCompression)
    extends VectorCompression {
  def encode(v: Array[Double]): Array[Short] = {
    CountingCompression.encodes.incrementAndGet(); inner.encode(v)
  }
  def decode(code: Array[Short]): Array[Double] = inner.decode(code)
  def distance(a: Array[Short], b: Array[Short]): Double = inner.distance(a, b)
  def queryDistance(q: Array[Double], code: Array[Short]): Double =
    inner.queryDistance(q, code)
}

/** Ports of the reference HNSW tests (py/test_hnsw.py, py/test_compression.py)
  * plus the distributed recall gate (SURVEY.md §5.2.4).
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private def bruteTopK(
      data: Array[Array[Double]],
      q: Array[Double],
      k: Int
  ): Seq[Int] =
    data.zipWithIndex
      .map { case (v, i) => (KMeansLocal.l2Sq(q, v), i) }
      .sortBy(x => (x._1, x._2))
      .take(k)
      .map(_._2)
      .toSeq

  test("unit-square corners: NN of [0.1,0.1] is id 0 at dist 0.02 (py/test_hnsw.py:205-238)") {
    val index = new HnswIndex(HnswParams(m = 4, efConstruction = 10), seed = 42)
    Seq(
      Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0)
    ).foreach(v => index.insert(v))
    val r = index.search(Array(0.1, 0.1), topK = 4)
    assert(r.head._2 == 0)
    assert(math.abs(r.head._1 - 0.02) < 1e-12)
    assert(r.map(_._1) == r.map(_._1).sorted) // sorted ascending
  }

  test("identical vectors: all distances 0 (py/test_hnsw.py:395-407)") {
    val index = new HnswIndex(HnswParams(m = 4, efConstruction = 10), seed = 1)
    (0 until 5).foreach(_ => index.insert(Array(2.0, 3.0, 4.0)))
    val r = index.search(Array(2.0, 3.0, 4.0), topK = 5)
    assert(r.length == 5)
    assert(r.forall(_._1 == 0.0))
  }

  test("HnswIndex.search rejects a query whose width differs from the indexed vectors'") {
    val rng = new Random(3)
    val index = new HnswIndex(HnswParams(m = 4, efConstruction = 10), seed = 3)
    (0 until 20).foreach(_ => index.insert(Array.fill(4)(rng.nextDouble())))
    for (w <- Seq(3, 5)) {
      val e = intercept[IllegalArgumentException](index.search(Array.fill(w)(0.5), topK = 3))
      assert(e.getMessage.contains(s"width $w") && e.getMessage.contains("width 4"),
        e.getMessage)
    }
    assert(index.search(Array.fill(4)(0.5), topK = 3).length == 3)
  }

  test("single-shard recall 1.0 on seeded uniform vectors (py/test_hnsw.py:346-360)") {
    val rng = new Random(42)
    val data = Array.fill(200)(Array.fill(16)(rng.nextDouble()))
    val index =
      new HnswIndex(HnswParams(m = 16, efConstruction = 100), seed = 42)
    data.foreach(v => index.insert(v))
    var hits = 0
    val queries = data.take(50)
    queries.foreach { q =>
      val got = index.search(q, topK = 10, efSearch = 200).map(_._2).toSet
      val want = bruteTopK(data, q, 10).toSet
      hits += got.intersect(want).size
    }
    val recall = hits.toDouble / (queries.length * 10)
    assert(recall >= 0.99, s"recall $recall")
  }

  test("graph introspection: height/node counts consistent (py/test_hnsw.py:7-121)") {
    val index = new HnswIndex(HnswParams(m = 4, efConstruction = 10), seed = 7)
    val rng = new Random(7)
    (0 until 50).foreach(_ => index.insert(Array.fill(4)(rng.nextDouble())))
    assert(index.height >= 1)
    assert(index.layerNodeCount(0) == 50)
    assert(!index.isLayerEmpty(0))
    // every node's layer-0 degree respects the M_max0 cap
    (0 until 50).foreach { n =>
      assert(index.layerAdjCount(0, n) <= index.params.mMax0)
    }
  }

  test("HNSW+PQ end-to-end: k results, sorted, reasonable (py/test_compression.py:20-53)") {
    val rng = new Random(42)
    val d = 16
    val data = Array.fill(100)(Array.fill(d)(rng.nextDouble()))
    val df = data.toSeq.map(v => Tuple1(v.toSeq)).toDF("v")
    val comp =
      new PQCompression(ProductQuantizer.train(df, "v", m = 4, k = 16, seed = 42))
    val index = new HnswIndex(
      HnswParams(m = 8, efConstruction = 50), seed = 42, Some(comp)
    )
    data.foreach(v => index.insert(v))
    val r = index.search(data(0), topK = 10)
    assert(r.length == 10)
    assert(r.map(_._1) == r.map(_._1).sorted)
    assert(r.forall(_._1 >= 0.0))
    // the query vector's own code should rank near the top
    assert(r.take(5).exists(_._2 == 0))
  }

  test("distributed recall gate: sharded HNSW Recall@10 >= 0.95 vs brute force") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 4, seed = 42
    )
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val approx =
      DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    val base = emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
    val exact = BruteForceKNN.knn(queries, base, 10)
    val nQ = queries.count()
    val hits = approx
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (nQ * 10)
    assert(recall >= 0.95, s"recall $recall")
  }

  test("deterministicLevels: levels table == md5 formula; recall gate holds") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val params =
      HnswParams(m = 16, efConstruction = 100, deterministicLevels = true)
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec", params, numShards = 4, seed = 42)
    // the built index's recorded levels are exactly the md5 coin formula
    // over the GLOBAL id — shard-layout-independent and SQL-replayable
    val got = shards.levels.get
      .select(col("id"), col("level"))
      .as[(Long, Int)].collect().toMap
    val ids = emb.select(col("vec_id").cast("long")).as[Long].collect()
    assert(got.size == ids.length)
    val mL = 1.0 / math.log(16.0)
    ids.foreach { id =>
      val u = KMeans.md5Coin(s"$id:hnswlvl:42")
      val want = math.max(0, math.floor(-math.log(u) * mL).toInt)
      assert(got(id) == want, s"id $id: level ${got(id)} != $want")
    }
    assert(got.values.max >= 1, "degenerate level draw: all nodes at 0")
    // same recall gate as the JVM-RNG build: det levels change nothing
    // about search quality
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val approx =
      DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    val base = emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
    val exact = BruteForceKNN.knn(queries, base, 10)
    val hits = approx
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (queries.count() * 10)
    assert(recall >= 0.95, s"recall $recall")
  }

  test("filtered search: all-allowed == unfiltered exactly; subset + recall under a 50% predicate") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"), col("label"))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 4, seed = 42
    )
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))

    // (1) allow = everything -> the filtered traversal must reduce to the
    // reference loop bit-for-bit (same admissions, same break)
    val allIds = emb.select(col("vec_id"))
    val filteredAll = DistributedHnsw.searchFiltered(
      shards, queries, "query_id", "qv", k = 10, allowedIds = allIds)
    val plain = DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    assert(filteredAll.except(plain).count() == 0
      && plain.except(filteredAll).count() == 0)

    // (2) selective predicate (~50%): results stay inside the allow-set
    val allowed = emb.filter(col("label") <= 4).select(col("vec_id"))
    val filtered = DistributedHnsw.searchFiltered(
      shards, queries, "query_id", "qv", k = 10, allowedIds = allowed,
      efSearch = 200) // over-fetch under selectivity, the standard tactic
    assert(filtered.join(
      allowed.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
      "left_anti").count() == 0)

    // (3) recall vs the exact filtered brute force
    val base = emb.filter(col("label") <= 4)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
    val exact = BruteForceKNN.knn(queries, base, 10)
    val nQ = queries.count()
    val hits = filtered
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (nQ * 10)
    assert(recall >= 0.9, s"filtered recall $recall")
    shards.unpersist()
  }

  test("tombstone search: empty set == plain exactly; deleted never surface; recall vs survivors") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 4, seed = 42
    )
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))

    // (1) no tombstones -> bit-identical to the plain traversal
    val none = emb.filter(lit(false)).select(col("vec_id"))
    val tombNone = DistributedHnsw.searchWithTombstones(
      shards, queries, "query_id", "qv", k = 10, tombstones = none)
    val plain = DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    assert(tombNone.except(plain).count() == 0
      && plain.except(tombNone).count() == 0)

    // (2) deleted ids route but never surface
    val tomb = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val res = DistributedHnsw.searchWithTombstones(
      shards, queries, "query_id", "qv", k = 10, tombstones = tomb,
      efSearch = 200)
    assert(res.join(
      tomb.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
      "left_semi").count() == 0)

    // (3) recall vs the exact brute force over the SURVIVORS
    val base = emb.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
    val exact = BruteForceKNN.knn(queries, base, 10)
    val nQ = queries.count()
    val hits = res
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (nQ * 10)
    assert(recall >= 0.9, s"tombstone recall $recall")
    shards.unpersist()
  }

  test("compact: only affected shards rebuilt, deleted ids gone, recall holds") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 4, seed = 42
    )
    // tombstones confined to shard 1 (id % 4 == 1), so shards 0/2/3 must
    // pass through compaction physically untouched
    val tomb = emb
      .filter(col("vec_id") % 4 === 1 && col("vec_id") % 7 === 0)
      .select(col("vec_id"))
    val nTomb = tomb.count()
    assert(nTomb > 0)
    val compacted = DistributedHnsw.compact(shards, tomb, seed = 42)

    // vectors: exactly the survivors
    assert(compacted.vectors.count() == emb.count() - nTomb)
    assert(compacted.vectors.join(
      tomb.select(col("vec_id").as("id")), Seq("id"), "left_semi").count() == 0)

    // unaffected shards: edge + entry tables bit-identical
    val keepE = shards.edges.filter(col("shard") =!= 1)
    val keepE2 = compacted.edges.filter(col("shard") =!= 1)
    assert(keepE.except(keepE2).count() == 0 && keepE2.except(keepE).count() == 0)
    // rebuilt shard: no tombstoned endpoint anywhere in its graph
    val tombIds = tomb.select(col("vec_id").as("x"))
    assert(compacted.edges.filter(col("shard") === 1)
      .join(tombIds, col("src") === col("x") || col("dst") === col("x"), "left_semi")
      .count() == 0)

    // search over the compacted index: no deleted id, recall vs survivors
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val res = DistributedHnsw.search(
      compacted, queries, "query_id", "qv", k = 10, efSearch = 200)
    assert(res.join(
      tomb.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
      "left_semi").count() == 0)
    val base = emb.join(tomb.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
    val exact = BruteForceKNN.knn(queries, base, 10)
    val nQ = queries.count()
    val hits = res
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (nQ * 10)
    assert(recall >= 0.9, s"compacted recall $recall")
    compacted.unpersist()
    shards.unpersist()
  }

  test("compact on a compressed index rethreads the code table") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val comp = new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 16, seed = 7))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 4, seed = 42,
      compression = Some(comp)
    )
    val tomb = emb
      .filter(col("vec_id") % 4 === 1 && col("vec_id") % 7 === 0)
      .select(col("vec_id"))
    // codec is mandatory for a compressed index
    intercept[IllegalArgumentException] {
      DistributedHnsw.compact(shards, tomb, seed = 42)
    }
    val compacted =
      DistributedHnsw.compact(shards, tomb, seed = 42, Some(comp))
    val codes = compacted.codes.get
    // code table = exactly one code per surviving vector, none deleted
    assert(codes.count() == emb.count() - tomb.count())
    assert(codes.join(
      tomb.select(col("vec_id").as("id")), Seq("id"), "left_semi").count() == 0)
    // untouched shards keep their persisted codes bit-for-bit
    val keepC = shards.codes.get.filter(col("shard") =!= 1)
    val keepC2 = codes.filter(col("shard") =!= 1)
    assert(keepC.except(keepC2).count() == 0 && keepC2.except(keepC).count() == 0)
    // compressed search over the compacted artifact still serves
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val res = DistributedHnsw.search(
      compacted, queries, "query_id", "qv", k = 10, compression = Some(comp))
    assert(res.groupBy(col("query_id")).count()
      .filter(col("count") =!= 10).count() == 0)
    compacted.unpersist()
    shards.unpersist()
  }

  test("clustered shards + routed search: all-probe == fan-out exactly; recall at 3/8 probes") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val shards = DistributedHnsw.buildClustered(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), cents, seed = 42)
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))

    // probing every shard must equal the all-shard fan-out bit-for-bit
    val all = DistributedHnsw.searchRouted(
      shards, queries, "query_id", "qv", k = 10, cents,
      nProbeShards = cents.length)
    val fan = DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    assert(all.except(fan).count() == 0 && fan.except(all).count() == 0)

    // partial probing: near-random 64-d vectors are the WORST case for
    // cluster routing (top-10 neighbors sit at distance ~1 and straddle
    // cell boundaries), so the gates here are the structural ones — the
    // recall/probe curve must be monotone and reach 1.0 of the fan-out
    // result at full probing (asserted above); absolute recall floors are
    // data-honest rather than aspirational
    val exact = BruteForceKNN.knn(
      queries, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10)
    val nQ = queries.count()
    def recallAt(nProbe: Int): Double = {
      val routed = DistributedHnsw.searchRouted(
        shards, queries, "query_id", "qv", k = 10, cents, nProbeShards = nProbe)
      routed.select(col("query_id"), col("neighbor_id"))
        .intersect(exact.select(col("query_id"), col("neighbor_id")))
        .count().toDouble / (nQ * 10)
    }
    val r3 = recallAt(3)
    val r5 = recallAt(5)
    info(f"routed recall@10: 3/8 = $r3%.4f, 5/8 = $r5%.4f")
    assert(r3 >= 0.5, s"routed 3/8 recall $r3")
    assert(r5 >= r3, s"recall must not decrease with probes: $r5 < $r3")
    assert(r5 >= 0.7, s"routed 5/8 recall $r5")
    shards.unpersist()
  }

  test("shard-count scaling gate: Recall@10 >= 0.95 at numShards = 16") {
    // sharding is the recall risk (SURVEY §7.3.1): each shard searches
    // 1/N of the corpus, the merge keeps the global best k — gate at the
    // production-scale fan-out, not just the bench default of 4
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec",
      HnswParams(m = 16, efConstruction = 100), numShards = 16, seed = 42
    )
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val approx =
      DistributedHnsw.search(shards, queries, "query_id", "qv", k = 10)
    val exact = BruteForceKNN.knn(
      queries, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10
    )
    val nQ = queries.count()
    val hits = approx
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id")))
      .count()
    val recall = hits.toDouble / (nQ * 10)
    shards.unpersist()
    assert(recall >= 0.95, s"recall $recall at 16 shards")
  }

  test("deterministic rebuild: same seed + shards -> identical edge table") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .limit(200)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val p = HnswParams(m = 8, efConstruction = 50)
    val s1 = DistributedHnsw.build(emb, "vec_id", "vec", p, 2, seed = 9)
    val s2 = DistributedHnsw.build(emb, "vec_id", "vec", p, 2, seed = 9)
    assert(s1.edges.except(s2.edges).count() == 0)
    assert(s2.edges.except(s1.edges).count() == 0)
  }

  test("searchEfCurve: each ef slice is bit-equal to search at that ef") {
    val emb = graft.queries.Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
    val p = HnswParams(m = 8, efConstruction = 50)
    val q = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val pq: Option[VectorCompression] = Some(new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 16, seed = 5)))
    for (comp <- Seq(None, pq)) {
      val shards = DistributedHnsw.build(emb, "vec_id", "vec", p, 2, seed = 5,
        compression = comp)
      val curve = DistributedHnsw
        .searchEfCurve(shards, q, "query_id", "qv", 10, Seq(10, 200), comp)
        .localCheckpoint()
      for (ef <- Seq(10, 200)) {
        val slice = curve.filter(col("ef") === ef)
          .select(col("query_id"), col("neighbor_id"), col("dist"), col("rnk"))
        val single = DistributedHnsw
          .search(shards, q, "query_id", "qv", 10, efSearch = ef, comp)
        assert(slice.count() == q.count() * 10, s"ef=$ef ${comp.isDefined}")
        assert(slice.except(single).count() == 0
            && single.except(slice).count() == 0,
          s"ef=$ef slice diverges from single-ef search (compressed=${comp.isDefined})")
      }
      // a repeated ef would put every neighbor twice into one top-k
      intercept[IllegalArgumentException] {
        DistributedHnsw.searchEfCurve(shards, q, "query_id", "qv", 10,
          Seq(16, 16), comp)
      }
      shards.unpersist()
    }
  }

  test("search rejects a query whose width differs from the indexed vectors'") {
    val emb = graft.queries.Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec"))
    val d = emb.head().getSeq[Double](1).length
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec", HnswParams(m = 8, efConstruction = 50), 2, seed = 5)
    val allowed = emb.select(col("vec_id"))
    for (w <- Seq(d - 1, d + 1)) {
      val q = Seq((7L, Seq.fill(w)(0.5))).toDF("query_id", "qv")
      for ((name, run) <- Seq[(String, () => Unit)](
          "search" -> (() =>
            DistributedHnsw.search(shards, q, "query_id", "qv", 5).collect()),
          "searchFiltered" -> (() =>
            DistributedHnsw.searchFiltered(shards, q, "query_id", "qv", 5,
              allowed).collect()))) {
        val e = intercept[Exception](run())
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toList
        assert(
          chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("query 7") &&
            c.getMessage.contains(s"width $w") &&
            c.getMessage.contains(s"width $d")),
          s"$name at width $w: ${chain.map(_.toString).mkString(" <- ")}")
      }
    }
    shards.unpersist()
  }

  test("hnsw_ef_curve: recall non-decreasing in efSearch, ef=200 floor") {
    val rows = graft.SparkEntry.queries("hnsw_ef_curve")(spark, sf0001)
      .orderBy(col("ef"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.map(_._1).toSeq == Seq(10L, 50L, 200L))
    val recall = rows.toMap
    // wider frontier can only help (0.02 slack for shard-merge ties)
    assert(recall(50L) >= recall(10L) - 0.02, recall.toString)
    assert(recall(200L) >= recall(50L) - 0.02, recall.toString)
    assert(recall(200L) >= 0.9, s"ef=200 recall ${recall(200L)} < 0.9")
  }

  test("param grid sweep: M x ef_construction all build and search (py/test_hnsw.py:425-447)") {
    val rng = new Random(21)
    val data = Array.fill(60)(Array.fill(8)(rng.nextDouble()))
    for (m <- Seq(2, 4, 16); efc <- Seq(5, 50, 200)) {
      val idx = new HnswIndex(HnswParams(m = m, efConstruction = efc), seed = 21)
      data.foreach(v => idx.insert(v))
      val r = idx.search(data(0), topK = 5)
      assert(r.length == 5, s"m=$m efc=$efc")
      assert(r.map(_._1) == r.map(_._1).sorted)
    }
  }

  test("reference level formula flag changes the level distribution, not correctness") {
    val rng = new Random(33)
    val data = Array.fill(80)(Array.fill(4)(rng.nextDouble()))
    val refIdx = new HnswIndex(
      HnswParams(m = 8, efConstruction = 50, referenceLevelFormula = true), seed = 33)
    data.foreach(v => refIdx.insert(v))
    val r = refIdx.search(data(3), topK = 5)
    assert(r.length == 5 && r.head._2 == 3)
  }

  test("reference published config M=32/efc=100/ef=200: Recall@10 >= 0.95; HNSW+PQ recorded (py/hnsw.ipynb cell-2/6)") {
    // the reference's own notebook config (M=32, ef_construction=100,
    // ef_search=200) reports Recall@10 = 1.0 uncompressed and 0.5069 with
    // PQ K=256 on SIFT (BASELINE.md:9-11)
    val params = HnswParams(m = 32, efConstruction = 100, efSearch = 200)
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val queries = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val nQ = queries.count()
    val exact = BruteForceKNN.knn(
      queries, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10
    ).select(col("query_id"), col("neighbor_id"))
    def recallOf(comp: Option[VectorCompression]): Double = {
      val shards = DistributedHnsw.build(
        emb, "vec_id", "vec", params, numShards = 4, seed = 42,
        compression = comp)
      val approx = DistributedHnsw.search(
        shards, queries, "query_id", "qv", k = 10, compression = comp)
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .intersect(exact).count()
      shards.unpersist()
      hits.toDouble / (nQ * 10)
    }
    val uncompressed = recallOf(None)
    assert(uncompressed >= 0.95, s"uncompressed recall $uncompressed")
    val pq = recallOf(Some(new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 64, seed = 42))))
    info(f"reference-config recall@10: uncompressed $uncompressed%.4f " +
      f"(ref 1.0), HNSW+PQ $pq%.4f (ref 0.5069 at K=256 on SIFT)")
    assert(pq >= 0.4, s"compressed recall $pq")
  }

  test("referenceMMax0 flag: element-level vs layer cap keying diverge (py/hnsw.py:371)") {
    val rng = new Random(55)
    val data = Array.fill(200)(Array.fill(8)(rng.nextDouble()))
    def buildWith(flag: Boolean): HnswIndex = {
      val idx = new HnswIndex(
        HnswParams(m = 4, efConstruction = 30, referenceMMax0 = flag), seed = 55)
      data.foreach(v => idx.insert(v))
      idx
    }
    val paper = buildWith(false)
    val ref = buildWith(true)
    // same seed -> same level draws -> the documented case occurs: at least
    // one element drew level > 0 and connected on layer 0, where the two
    // keyings pick different budgets (paper: select m, cap M_max0; ref: one
    // element-level budget M_max for both)
    assert(paper.height > 1, "need a level>0 insert to exercise the case")
    val pe = paper.graph.edgeIterator.toSet
    val re = ref.graph.edgeIterator.toSet
    assert(pe != re, "edge tables must diverge under the reference keying")
    // both variants remain sound search structures
    Seq(paper, ref).foreach { idx =>
      val r = idx.search(data(7), topK = 5)
      assert(r.length == 5 && r.head._2 == 7)
    }
  }

  test("compressed search serves from the persisted code table: no vector reads, no re-encode") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val comp = new CountingCompression(new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 64, seed = 4)))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec", HnswParams(m = 16, efConstruction = 100),
      numShards = 2, seed = 4, compression = Some(comp))
    assert(shards.codes.isDefined, "compressed build must persist a code table")
    // materialize the build (the graph build itself encodes — that is
    // build work) and the code table, then zero the encode counter: search
    // must not add a single encode call (local[*] = one JVM, so the static
    // counter sees every task)
    shards.edges.count()
    shards.codes.get.count()
    CountingCompression.encodes.set(0L)
    // poison the raw vector table — any evaluation throws, so compressed
    // search passing proves the vector table is not even in the lineage
    val poisoned = shards.vectors
      .select(col("shard"), col("id"), col("vec"))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions[(Int, Long, Seq[Double])] {
        (_: Iterator[(Int, Long, Seq[Double])]) =>
          throw new IllegalStateException(
            "compressed search read the vector table")
      }
      .toDF("shard", "id", "vec")
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val res = DistributedHnsw.search(
      DistributedHnsw.Shards(
        shards.numShards, shards.params, poisoned, shards.edges,
        shards.entries, shards.codes),
      qs, "query_id", "qv", k = 10, compression = Some(comp))
    assert(res.count() == qs.count() * 10)
    assert(CountingCompression.encodes.get() == 0L,
      s"search re-encoded ${CountingCompression.encodes.get()} vectors")
    shards.unpersist()
  }

  test("save/load round-trips the code table; loaded compressed search == built") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .limit(300)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val comp = new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 16, seed = 6))
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec", HnswParams(m = 8, efConstruction = 50),
      numShards = 2, seed = 6, compression = Some(comp))
    val path = java.nio.file.Files
      .createTempDirectory("hnswpq").toString + "/idx"
    DistributedHnsw.save(shards, path)
    val loaded = DistributedHnsw.load(spark, path, shards.params, 2)
    assert(loaded.codes.isDefined, "loaded artifact must carry the code table")
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val a = DistributedHnsw.search(
      shards, qs, "query_id", "qv", k = 5, compression = Some(comp))
    val b = DistributedHnsw.search(
      loaded, qs, "query_id", "qv", k = 5, compression = Some(comp))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    shards.unpersist()
  }

  test("distributed HNSW+PQ: symmetric build / asymmetric search end-to-end") {
    import graft.queries.Q
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val comp = new PQCompression(
      ProductQuantizer.train(emb, "vec", m = 8, k = 64, seed = 4)
    )
    val shards = DistributedHnsw.build(
      emb, "vec_id", "vec", HnswParams(m = 16, efConstruction = 100),
      numShards = 2, seed = 4, compression = Some(comp)
    )
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val approx = DistributedHnsw.search(
      shards, queries, "query_id", "qv", k = 10, compression = Some(comp)
    )
    val rows = approx.collect()
    assert(rows.length == queries.count() * 10)
    // per query: sorted ascending, non-negative ADC distances
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val ds = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(ds.toSeq == ds.sorted.toSeq && ds.forall(_ >= 0.0))
    }
    // PQ compression trades recall for memory by design: the reference
    // itself measures 0.5069 at K=256 on structured SIFT (py/hnsw.ipynb
    // cell-6). On these near-random 64-d embeddings with K=64 we gate at
    // 0.4 — the semantic checks above are the correctness assertions
    val exact = BruteForceKNN.knn(
      queries, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10
    )
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id"))).count()
    val recall = hits.toDouble / (queries.count() * 10)
    assert(recall >= 0.4, s"compressed recall $recall")
  }
}
