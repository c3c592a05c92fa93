package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.toDouble
import graft.operators.{GraphAudit, NNDescent, PQModel, ProductQuantizer}
import graft.queries.Q

/** The kNN-graph walks (NN-Descent beam search, raw and compressed;
  * multi-source BFS; Brandes betweenness) run against a broadcast local
  * graph in one pass. These specs pin each equal, row for row and type
  * for type, to its iterative-join twin in GraphWalkRelational on seeded
  * random graphs with the degenerate shapes the two spellings could
  * disagree on, and guard the job count against the per-round joins
  * coming back.
  */
class GraphWalkSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def assertSame(local: DataFrame, rel: DataFrame, what: String): Unit = {
    assert(local.schema.map(f => (f.name, f.dataType)) ==
      rel.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    val (l, r) = (rows(local), rows(rel))
    assert(l == r, s"$what: local ${l.take(8)} != relational ${r.take(8)}")
  }

  /** 60 nodes in 4-d with coordinates in {0..3} (many exact distance
    * ties) and every 7th vector duplicated from its predecessor; node 5
    * has no out-edges, id 999 has edges but no vector row, and the edge
    * list carries a self-loop and repeated edges. */
  private def vectorGraph(seed: Int): (DataFrame, DataFrame, DataFrame) = {
    val rng = new scala.util.Random(seed)
    val n = 60
    val base = Array.fill(n)(Array.fill(4)(rng.nextInt(4).toDouble))
    for (i <- 1 until n by 7) base(i) = base(i - 1).clone()
    val vecs = base.indices.map(i => (i.toLong, base(i).toSeq)).toDF("id", "vec")
    val out = for {
      i <- 0 until n if i != 5
      j <- Seq.fill(rng.nextInt(5))(rng.nextInt(n))
    } yield (i.toLong, j.toLong)
    val graph = (out ++ out.take(3) ++
      Seq((0L, 999L), (3L, 999L), (999L, 1L), (0L, 5L), (0L, 0L))).toDF("src", "dst")
    val queries = ((0 until 12).map(q =>
      (100L + q, Seq.fill(4)(rng.nextInt(4).toDouble))) :+ ((200L, base(7).toSeq)))
      .toDF("qid", "qv")
    (vecs, graph, queries)
  }

  /** The first 8 node vectors as the codewords of a 2×2-d fixed PQ model. */
  private def fixedModel(vecs: DataFrame): PQModel = {
    val cw = vecs.orderBy(col("id")).limit(8).collect().map(_.getSeq[Double](1).toArray)
    PQModel(2, cw.length, 4, Array.tabulate(2)(mi =>
      cw.map(v => java.util.Arrays.copyOfRange(v, mi * 2, (mi + 1) * 2))))
  }

  test("beamSearch local == relational: ties, dead ends, vectorless dst, k > reachable, no queries") {
    for (seed <- 1 to 3; rounds <- Seq(1, 3)) {
      val (vecs0, graph, q) = vectorGraph(seed)
      // a repeated (id, vector) row, as a re-delivered micro-batch appends
      val vecs = vecs0.union(vecs0.filter(col("id") < 3))
      val local = NNDescent.beamSearch(graph, vecs, "id", "vec", q, "qid", "qv",
        k = 5, beam = 8, rounds = rounds, entryId = 0L)
      assert(local.count() > 13, s"seed $seed rounds $rounds")
      assertSame(local,
        GraphWalkRelational.beamSearchRelational(graph, vecs, "id", "vec", q, "qid", "qv",
          k = 5, beam = 8, rounds = rounds, entryId = 0L),
        s"beamSearch seed $seed rounds $rounds")
    }
    val (vecs, graph, q) = vectorGraph(4)
    // entry 300 reaches only 300..302; 303 has a vector but no path
    val small = vecs.union(Seq((300L, Seq(9.0, 9.0, 9.0, 9.0)), (301L, Seq(8.0, 8.0, 8.0, 8.0)),
      (302L, Seq(7.0, 7.0, 7.0, 7.0)), (303L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "vec"))
    val chain = graph.union(Seq((300L, 301L), (301L, 302L)).toDF("src", "dst"))
    val few = NNDescent.beamSearch(chain, small, "id", "vec", q, "qid", "qv",
      k = 5, beam = 6, rounds = 3, entryId = 300L)
    assert(few.count() == 13 * 3)
    assertSame(few,
      GraphWalkRelational.beamSearchRelational(chain, small, "id", "vec", q, "qid", "qv",
        k = 5, beam = 6, rounds = 3, entryId = 300L),
      "beamSearch k > reachable")
    val none = q.limit(0)
    assertSame(
      NNDescent.beamSearch(graph, vecs, "id", "vec", none, "qid", "qv", 5, 8, 2, 0L),
      GraphWalkRelational.beamSearchRelational(
        graph, vecs, "id", "vec", none, "qid", "qv", 5, 8, 2, 0L),
      "beamSearch empty queries")
  }

  test("beamSearchCompressed local == relational: ADC walk + exact rerank") {
    for (seed <- 1 to 3; rounds <- Seq(1, 4)) {
      val (vecs, graph, q) = vectorGraph(seed)
      val model = fixedModel(vecs)
      val codes = vecs.select(col("id"), ProductQuantizer.encodeCol(model, col("vec")).as("code"))
      val local = NNDescent.beamSearchCompressed(graph, codes, model, vecs, "id", "vec",
        q, "qid", "qv", k = 5, beam = 8, rounds = rounds, entryId = 0L)
      assert(local.count() > 13, s"seed $seed rounds $rounds")
      assertSame(local,
        GraphWalkRelational.beamSearchCompressedRelational(graph, codes, model, vecs,
          "id", "vec", q, "qid", "qv", k = 5, beam = 8, rounds = rounds, entryId = 0L),
        s"beamSearchCompressed seed $seed rounds $rounds")
    }
  }

  test("beamSearchCoded == beamSearchCompressed: vectors and codes from one corpus frame") {
    for (seed <- 1 to 3; rounds <- Seq(1, 4)) {
      val (vecs, graph, q) = vectorGraph(seed)
      val model = fixedModel(vecs)
      val corpus = vecs.withColumn("code", ProductQuantizer.encodeCol(model, col("vec")))
      val coded = NNDescent.beamSearchCoded(graph, corpus, "id", "vec", "code", model,
        q, "qid", "qv", k = 5, beam = 8, rounds = rounds, entryId = 0L)
      assertSame(coded,
        NNDescent.beamSearchCompressed(graph, corpus.select(col("id"), col("code")), model,
          vecs, "id", "vec", q, "qid", "qv", k = 5, beam = 8, rounds = rounds, entryId = 0L),
        s"beamSearchCoded seed $seed rounds $rounds")
    }
    val (vecs, graph, q) = vectorGraph(1)
    val model = fixedModel(vecs)
    val partial = vecs.withColumn("code",
      when(col("id") =!= 9L, ProductQuantizer.encodeCol(model, col("vec"))))
    val e = intercept[IllegalArgumentException](NNDescent.beamSearchCoded(graph, partial,
      "id", "vec", "code", model, q, "qid", "qv", 5, 8, 2, 0L))
    assert(e.getMessage.contains("id=9"), e.getMessage)
  }

  test("one collect per table: warm jobs of knn_graph_search_pq <= 6, knn_graph_scan_curve <= 7") {
    val jobs = Seq("knn_graph_search_pq" -> 6, "knn_graph_scan_curve" -> 7).map { case (name, cap) =>
      val q = SparkEntry.queries(name)
      val cold = q(spark, sf001).collect()
      val n = jobsOf(assert(q(spark, sf001).collect().length == cold.length))
      assert(n <= cap, s"$name: $n warm jobs, cap $cap")
      name -> n
    }
    info(s"warm jobs on the sf0.01 tables: ${jobs.mkString(", ")}")
  }

  test("beam searches reject a wrong-width query, an unknown entry, two vectors for one id and a partial code table") {
    val (vecs, graph, _) = vectorGraph(1)
    def rejects(what: String, needles: String*)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        needles.forall(c.getMessage.contains)),
        s"$what: ${chain.map(_.toString).mkString(" <- ")}")
    }
    for (w <- Seq(3, 5)) {
      val q = Seq((7L, Seq.fill(w)(1.0))).toDF("qid", "qv")
      rejects(s"width $w", "query 7", s"width $w", "width 4") {
        NNDescent.beamSearch(graph, vecs, "id", "vec", q, "qid", "qv", 5, 8, 2, 0L).collect()
      }
    }
    val q = Seq((7L, Seq.fill(4)(1.0))).toDF("qid", "qv")
    rejects("entry", "entryId 12345") {
      NNDescent.beamSearch(graph, vecs, "id", "vec", q, "qid", "qv", 5, 8, 2, 12345L)
    }
    rejects("two vectors", "id 2 has two different vectors") {
      NNDescent.beamSearch(graph, vecs.union(Seq((2L, Seq(9.0, 9.0, 9.0, 9.0))).toDF("id", "vec")),
        "id", "vec", q, "qid", "qv", 5, 8, 2, 0L)
    }
    val model = fixedModel(vecs)
    val codes = vecs.filter(col("id") =!= 9L)
      .select(col("id"), ProductQuantizer.encodeCol(model, col("vec")).as("code"))
    rejects("coverage", "id=9") {
      NNDescent.beamSearchCompressed(graph, codes, model, vecs, "id", "vec",
        q, "qid", "qv", 5, 8, 2, 0L)
    }
  }

  /** 40 nodes, 70 random edges plus reversed repeats and a self-loop. */
  private def plainGraph(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val e = Seq.fill(70)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    (e ++ e.take(5).map(_.swap) ++ Seq((3L, 3L))).toDF("src", "dst")
  }

  // 500 is in no edge (an isolated source); None is a null source row
  private def sources = Seq(Some(0L), Some(7L), Some(13L), Some(21L), Some(500L), None).toDF("v")

  test("multiSourceBfs local == relational: isolated and null sources, repeated edges") {
    for (seed <- 1 to 3; rounds <- Seq(1, 3, 6)) {
      val g = plainGraph(seed)
      assertSame(GraphAudit.multiSourceBfs(g, sources, rounds),
        GraphWalkRelational.multiSourceBfsRelational(g, sources, rounds),
        s"multiSourceBfs seed $seed rounds $rounds")
    }
    val none = sources.limit(0)
    assertSame(GraphAudit.multiSourceBfs(plainGraph(1), none, 2),
      GraphWalkRelational.multiSourceBfsRelational(plainGraph(1), none, 2), "BFS no sources")
  }

  test("betweennessBrandes local == relational: decimal-exact dependency sums") {
    val ids = ((0L until 40L) :+ 777L).toDF("id")
    for (seed <- 1 to 3; rounds <- Seq(1, 2, 4)) {
      val g = plainGraph(seed)
      val local = GraphAudit.betweennessBrandes(g, sources, ids, rounds)
      // at a 1-hop horizon no node is interior to a shortest path
      assert((local.filter(col("bw") > 0).count() > 0) == (rounds > 1),
        s"seed $seed rounds $rounds")
      assertSame(local,
        GraphWalkRelational.betweennessBrandesRelational(g, sources, ids, rounds),
        s"betweennessBrandes seed $seed rounds $rounds")
    }
  }

  test("job count does not grow with rounds: beam search, BFS, Brandes") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val graph = NNDescent.robustPrune(
      NNDescent.knnGraph(emb, "id", "vec", 10, iterations = 2), emb, "id", "vec", 1.2, 8)
      .localCheckpoint()
    val q = emb.filter(col("id") % 10 === 0)
      .select(col("id").as("query_id"), col("vec").as("qv"))
    val beam = Seq(2, 6).map(r => jobsOf(NNDescent.beamSearch(graph, emb, "id", "vec",
      q, "query_id", "qv", 10, beam = 24, rounds = r, entryId = 0L).collect()))
    assert(beam(0) == beam(1) && beam(0) <= 4, s"beamSearch jobs at rounds 2, 6: $beam")
    val src = emb.filter(col("id") % 100 === 0).select(col("id"))
    val bfs = Seq(2, 6).map(r => jobsOf(GraphAudit.multiSourceBfs(graph, src, r).collect()))
    assert(bfs(0) == bfs(1), s"multiSourceBfs jobs at rounds 2, 6: $bfs")
    val bw = Seq(2, 6).map(r => jobsOf(
      GraphAudit.betweennessBrandes(graph, src, emb.select(col("id")), r).collect()))
    assert(bw(0) == bw(1), s"betweennessBrandes jobs at rounds 2, 6: $bw")
    info(s"jobs: beamSearch $beam, multiSourceBfs $bfs, betweennessBrandes $bw")
  }
}
