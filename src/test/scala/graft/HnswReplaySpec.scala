package graft

import org.apache.spark.sql.functions._
import graft.operators.{BruteForceKNN, HnswReplay}
import graft.functions.VectorFunctions.toDouble
import graft.queries.Q

/** Gates for the hash-checked HNSW search replay (hnsw_knn_replay):
  * the deterministic layered graph + greedy-descent + beam trajectory.
  * Oracle equality vs DuckDB is the driver's job; here we gate search
  * QUALITY (recall vs exact), structural invariants of the idealized
  * edge build, and output shape.
  */
class HnswReplaySpec extends SparkSpec {

  private lazy val emb = Q.t(spark, sf001, "embeddings")
    .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
  private lazy val q = emb
    .filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("query_id"), col("vec").as("qv"))
  private lazy val layered = HnswReplay.buildLayered(emb, "vec_id", "vec")

  test("replay recall@10 >= 0.95 vs exact kNN at sf0.01") {
    val exact = BruteForceKNN
      .knn(q, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
    val got = HnswReplay
      .searchReplay(layered, q, "query_id", "qv", k = 10, ef = 16,
        greedyRounds = 2, beamRounds = 4)
      .select(col("query_id"), col("neighbor_id"))
    val denom = exact.count().toDouble
    val matched = got.join(exact, Seq("query_id", "neighbor_id")).count()
    val recall = matched / denom
    info(f"replay recall@10 = $recall%.4f")
    assert(recall >= 0.95, f"replay recall too low: $recall%.4f")
  }

  test("output shape: k rows per query, rnk dense 1..k, dist ascending") {
    val got = HnswReplay
      .searchReplay(layered, q, "query_id", "qv", k = 10, ef = 16,
        greedyRounds = 2, beamRounds = 4)
      .collect()
      .groupBy(_.getLong(0))
    assert(got.size == q.count())
    got.foreach { case (qid, rows) =>
      assert(rows.length == 10, s"query $qid has ${rows.length} rows")
      val byRnk = rows.sortBy(_.getLong(3))
      assert(byRnk.map(_.getLong(3)).toSeq == (1L to 10L), s"ranks not dense for $qid")
      val ds = byRnk.map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted, s"dist not ascending for $qid")
    }
  }

  test("replayEfCurve: recall non-decreasing in ef, top setting near-exact") {
    val idx = graft.operators.HnswReplay.buildLayered(emb, "vec_id", "vec")
    val exact = BruteForceKNN
      .knn(q, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
    val curve = graft.operators.HnswReplay
      .replayEfCurve(idx, q, "query_id", "qv", k = 10, efs = Seq(10, 16, 32),
        greedyRounds = 2, beamRounds = 4)
    val denom = exact.count().toDouble
    val byEf = curve
      .select(col("ef"), col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("ef")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1) / denom).toMap
    info(s"recall by ef: ${byEf.toSeq.sortBy(_._1)}")
    assert(byEf(10L) <= byEf(16L) + 1e-9 && byEf(16L) <= byEf(32L) + 1e-9,
      s"recall not monotone in ef: $byEf")
    assert(byEf(32L) >= 0.97, s"ef=32 recall too low: ${byEf(32L)}")
    // a repeated ef would emit its whole block twice
    intercept[IllegalArgumentException] {
      HnswReplay.replayEfCurve(idx, q, "query_id", "qv", k = 10,
        efs = Seq(16, 16), greedyRounds = 2, beamRounds = 4)
    }
  }

  test("idealized edges: per-(layer,src) degree bound, members only, no self") {
    // reconstruct via the public replay inputs: levels from the md5 coin
    val lv = emb
      .select(col("vec_id").cast("long").as("id"),
        HnswReplay.levelCol(col("vec_id").cast("long"), 42L, 16).as("level"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    assert(lv.values.max <= HnswReplay.MaxLevel,
      s"coin-granularity level bound violated: ${lv.values.max}")
    // the edge table is internal; audit it through the search contract
    // instead: every returned neighbor must exist and differ from nothing
    // (searches may legitimately return the query id itself — it IS a
    // corpus member); spot-check that the top-1 of each query is the
    // query itself (dist 0, smallest id tie), the strongest cheap
    // structural signal that edges reach true nearest neighbors
    val got = HnswReplay
      .searchReplay(layered, q, "query_id", "qv", k = 10, ef = 16,
        greedyRounds = 2, beamRounds = 4)
      .filter(col("rnk") === 1)
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 0.0,
        s"query ${r.getLong(0)} top-1 is not itself: ${r.getLong(1)} d=${r.getDouble(2)}")
    }
  }

  test("searchReplayAdc: lossless codebook (K=N, codewords=the corpus) reduces to the exact replay") {
    import graft.operators.{PQModel, ProductQuantizer}
    // 60-vector slice; codebook = every vector itself, so encode(v) picks
    // v's own codeword (dist 0) and ADC(q, code(v)) IS the exact L2² —
    // the compressed walk must reproduce the exact walk bit-for-bit
    val small = emb.filter(col("vec_id") < 60).localCheckpoint()
    val qs = small.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    val rows = small.orderBy(col("vec_id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val m = 8
    val dp = rows(0).length / m
    val model = PQModel(m, rows.length, rows(0).length,
      Array.tabulate(m)(mi =>
        rows.map(v => java.util.Arrays.copyOfRange(v, mi * dp, (mi + 1) * dp))))
    val idx = HnswReplay.buildLayered(small, "vec_id", "vec")
    val codes = small.select(
      col("vec_id").as("cid"),
      ProductQuantizer.encodeCol(model, col("vec")).as("code"))
    val adc = HnswReplay
      .searchReplayAdc(idx, codes, model, qs, "query_id", "qv",
        k = 5, ef = 16, greedyRounds = 2, beamRounds = 4)
      .orderBy(col("query_id"), col("rnk")).collect().toSeq
    val exact = HnswReplay
      .searchReplay(idx, qs, "query_id", "qv", k = 5,
        ef = 16, greedyRounds = 2, beamRounds = 4)
      .orderBy(col("query_id"), col("rnk")).collect().toSeq
    assert(adc == exact, "lossless-codebook ADC replay diverged from exact replay")
  }

  test("searchReplayAdc: a code outside 0..K-1 fails by name when the code table loads") {
    import graft.operators.{PQModel, ProductQuantizer}
    val m = 8
    val k = 16
    val model = PQModel(m, k, 64, Array.fill(m)(Array.fill(k)(Array.fill(8)(0.5))))
    for (bad <- Seq(k, -1)) {
      val codes = emb.select(
        col("vec_id").as("cid"),
        when(col("vec_id") === 3L,
          array((0 until m).map(i => lit(if (i == 1) bad else 0).cast("smallint")): _*))
          .otherwise(ProductQuantizer.encodeCol(model, col("vec"))).as("code"))
      val e = intercept[IllegalArgumentException] {
        HnswReplay.searchReplayAdc(layered, codes, model, q, "query_id", "qv",
          k = 10, ef = 16, greedyRounds = 2, beamRounds = 4).collect()
      }
      assert(e.getMessage.contains(s"id=3 has code $bad out of range for k=$k (subspace 1)"),
        e.getMessage)
    }
  }

  test("searchReplayAdc: lossy fixed codebook — valid top-k shape, self found, recall floor") {
    import graft.operators.{PQModel, ProductQuantizer}
    val rows = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val m = 8
    val dp = rows(0).length / m
    val model = PQModel(m, rows.length, rows(0).length,
      Array.tabulate(m)(mi =>
        rows.map(v => java.util.Arrays.copyOfRange(v, mi * dp, (mi + 1) * dp))))
    val idx = HnswReplay.buildLayered(emb, "vec_id", "vec")
    val codes = emb.select(
      col("vec_id").as("cid"),
      ProductQuantizer.encodeCol(model, col("vec")).as("code"))
    val got = HnswReplay
      .searchReplayAdc(idx, codes, model, q, "query_id", "qv",
        k = 10, ef = 16, greedyRounds = 2, beamRounds = 4)
    val rowsG = got.collect().groupBy(_.getLong(0))
    rowsG.foreach { case (qid, rs) =>
      assert(rs.length == 10, s"query $qid has ${rs.length} rows")
      val ds = rs.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted, s"rerank dist not ascending for $qid")
    }
    val exact = BruteForceKNN
      .knn(q, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
    val denom = exact.count().toDouble
    val matched = got.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id")).count()
    val recall = matched / denom
    info(f"ADC replay recall@10 = $recall%.4f")
    // the crude 16-codeword stand-in quantizer misroutes some walks (its
    // own row exists for determinism, not quality — NNDescentSpec gates
    // the FITTED-codebook compressed walk's recall); this floor only
    // catches collapse
    assert(recall >= 0.3, f"ADC replay recall collapsed: $recall%.4f")
  }

  test("filtered replay: allow-all and empty-tombstones are bit-identical to searchReplay") {
    val idx = HnswReplay.buildLayered(emb, "vec_id", "vec")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val base = asSet(HnswReplay
      .searchReplay(idx, q, "query_id", "qv", k = 10, ef = 16,
        greedyRounds = 2, beamRounds = 4))
    val allIds = emb.select(col("vec_id"))
    val allowAll = asSet(HnswReplay
      .searchReplayFiltered(idx, q, "query_id", "qv", allIds,
        k = 10, ef = 16, greedyRounds = 2, beamRounds = 4))
    assert(allowAll == base,
      "allow-all filtered replay diverged from the unfiltered replay")
    val noTombs = asSet(HnswReplay
      .searchReplayDeleted(idx, q, "query_id", "qv",
        emb.filter(lit(false)).select(col("vec_id")),
        k = 10, ef = 16, greedyRounds = 2, beamRounds = 4))
    assert(noTombs == base,
      "empty-tombstone replay diverged from the unfiltered replay")
  }

  test("filtered replay: disallowed never surface, k allowed rows per query, recall floor") {
    val idx = HnswReplay.buildLayered(emb, "vec_id", "vec")
    val embT = Q.t(spark, sf001, "embeddings")
    val allowed = embT.filter(col("label") % 2 === 0).select(col("vec_id"))
    val allowSet = allowed.collect().map(_.getLong(0)).toSet
    val got = HnswReplay
      .searchReplayFiltered(idx, q, "query_id", "qv", allowed,
        k = 10, ef = 16, greedyRounds = 2, beamRounds = 4)
      .collect()
    got.foreach(r => assert(allowSet.contains(r.getLong(1)),
      s"disallowed id ${r.getLong(1)} surfaced"))
    val perQ = got.groupBy(_.getLong(0))
    assert(perQ.size == q.count())
    perQ.foreach { case (qid, rs) =>
      assert(rs.length == 10, s"query $qid returned ${rs.length} < k rows") }
    // recall vs the exact ALLOWED-only top-10
    val exact = BruteForceKNN
      .knn(q,
        emb.join(allowed, Seq("vec_id"))
          .select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
    val denom = exact.count().toDouble
    val matched = spark.createDataFrame(
      spark.sparkContext.parallelize(
        got.map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1))).toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType))))
      .join(exact, Seq("query_id", "neighbor_id")).count()
    val recall = matched / denom
    info(f"filtered replay recall@10 (vs allowed-only exact) = $recall%.4f")
    assert(recall >= 0.9, f"filtered replay recall too low: $recall%.4f")
  }

  test("filter curve: recall monotone non-decreasing in allow-fraction, query universe complete") {
    val rows = SparkEntry.queries("hnsw_replay_filter_curve")(spark, sf001)
      .orderBy(col("allow_pct"))
      .collect()
    assert(rows.length == 3)
    val recalls = rows.map(_.getDouble(2))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"recall not monotone in selectivity: ${recalls.mkString(",")}")
    // every selectivity row scores the full query set (zero-eligible
    // queries count as recall 0, never dropped)
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    // the loosest setting should be near the unfiltered replay's recall
    assert(recalls.last >= 0.9, s"75% allow recall too low: ${recalls.last}")
  }

  test("local walk == relational walk, bit-for-bit (search, ef curve, visited set, ADC)") {
    // The r14 local-walk rewrite must be a pure execution-strategy change:
    // every public search is pinned against the original iterative-join
    // spelling on the full sf0.001 corpus.
    val idx = HnswReplay.buildLayered(emb, "vec_id", "vec")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val sLoc = asSet(HnswReplay.searchReplay(
      idx, q, "query_id", "qv", k = 10, ef = 16,
      greedyRounds = 2, beamRounds = 4))
    val sRel = asSet(HnswReplayRelational.searchReplayRelational(
      idx, q, "query_id", "qv", k = 10, ef = 16,
      greedyRounds = 2, beamRounds = 4))
    assert(sLoc == sRel, "searchReplay local != relational")
    val cLoc = asSet(HnswReplay.replayEfCurve(
      idx, q, "query_id", "qv", k = 10, efs = Seq(10, 16, 32),
      greedyRounds = 2, beamRounds = 4))
    val cRel = asSet(HnswReplayRelational.replayEfCurveRelational(
      idx, q, "query_id", "qv", k = 10, efs = Seq(10, 16, 32),
      greedyRounds = 2, beamRounds = 4))
    assert(cLoc == cRel, "replayEfCurve local != relational")
    val qs = q.select(col("query_id").as("qid"), col("qv"))
    val vLoc = asSet(HnswReplay.visitedLayer0(
      idx, qs, ef = 16, greedyRounds = 2, beamRounds = 4))
    val vRel = asSet(HnswReplayRelational.visitedLayer0Relational(
      idx, qs, ef = 16, greedyRounds = 2, beamRounds = 4))
    assert(vLoc == vRel, "visitedLayer0 local != relational")
    // ADC walk, fixed 16-codeword model over the real corpus
    import graft.operators.{PQModel, ProductQuantizer}
    val rows16 = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    val m = 8
    val dp = rows16(0).length / m
    val model = PQModel(m, rows16.length, rows16(0).length,
      Array.tabulate(m)(mi =>
        rows16.map(v => java.util.Arrays.copyOfRange(v, mi * dp, (mi + 1) * dp))))
    val codes = emb.select(
      col("vec_id").as("cid"),
      ProductQuantizer.encodeCol(model, col("vec")).as("code"))
    val aLoc = asSet(HnswReplay.searchReplayAdc(
      idx, codes, model, q, "query_id", "qv",
      k = 10, ef = 16, greedyRounds = 2, beamRounds = 4))
    val aRel = asSet(HnswReplayRelational.searchReplayAdcRelational(
      idx, codes, model, q, "query_id", "qv",
      k = 10, ef = 16, greedyRounds = 2, beamRounds = 4))
    assert(aLoc == aRel, "searchReplayAdc local != relational")
  }

  test("route-through semantics: all-nearest-disallowed still yields k allowed results") {
    import spark.implicits._
    // two concentric rings: the inner (nearest to the query) entirely
    // DISALLOWED, the outer allowed — post-filtering an unfiltered top-k
    // returns nothing, while the filter contract (route through
    // disallowed, only allowed enter W) must surface k outer points
    def ring(r: Double, ids: Seq[Long]): Seq[(Long, Seq[Double])] =
      ids.zipWithIndex.map { case (id, i) =>
        val a = 2 * math.Pi * i / ids.length
        (id, Seq(r * math.cos(a), r * math.sin(a)))
      }
    val inner = ring(1.0, 1L to 20L)
    val outer = ring(2.0, 21L to 40L)
    val pts = (inner ++ outer).toDF("vec_id", "vec")
    val qdf = Seq((0L, Seq(0.1, 0.0))).toDF("query_id", "qv")
    val idx = HnswReplay.buildLayered(pts, "vec_id", "vec")
    val unf = HnswReplay
      .searchReplay(idx, qdf, "query_id", "qv", k = 5, ef = 16,
        greedyRounds = 2, beamRounds = 4)
      .collect().map(_.getLong(1)).toSet
    assert(unf.forall(_ <= 20L), s"unfiltered top-5 not all inner: $unf")
    val allowedOuter = (21L to 40L).toDF("vec_id")
    val filt = HnswReplay
      .searchReplayFiltered(idx, qdf, "query_id", "qv", allowedOuter,
        k = 5, ef = 16, greedyRounds = 2, beamRounds = 4)
      .collect()
    assert(filt.length == 5, s"filtered returned ${filt.length} rows")
    assert(filt.forall(r => r.getLong(1) >= 21L),
      s"filtered surfaced inner ids: ${filt.map(_.getLong(1)).mkString(",")}")
    // tombstoning the inner ring is the same walk with the flag inverted
    val del = HnswReplay
      .searchReplayDeleted(idx, qdf, "query_id", "qv",
        (1L to 20L).toDF("vec_id"),
        k = 5, ef = 16, greedyRounds = 2, beamRounds = 4)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(del == filt.map(r => (r.getLong(1), r.getLong(3))).toSet,
      "tombstone walk diverged from the equivalent allow-list walk")
  }

  test("replay rejects a query whose width differs from the indexed vectors'") {
    import spark.implicits._
    val d = emb.head().getSeq[Double](1).length
    for (w <- Seq(d - 1, d + 1)) {
      val qw = Seq((7L, Seq.fill(w)(0.5))).toDF("query_id", "qv")
      for ((name, run) <- Seq[(String, () => Unit)](
          "searchReplay" -> (() => HnswReplay.searchReplay(layered, qw, "query_id", "qv",
            k = 5, ef = 16, greedyRounds = 2, beamRounds = 4).collect()),
          "searchReplayFiltered" -> (() => HnswReplay.searchReplayFiltered(layered, qw,
            "query_id", "qv", emb.select(col("vec_id")), k = 5, ef = 16,
            greedyRounds = 2, beamRounds = 4).collect()))) {
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
  }

  test("no relational twin under src/main: the reference spellings live in HnswReplayRelational") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val twin = """def \w*Relational""".r
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => twin.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .toList
      finally stream.close()
    assert(offenders.isEmpty,
      s"relational twin in $offenders: reference implementations belong in src/test")
  }
}
