package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.toDouble
import graft.operators.{ClusterEval, GraphAudit, NNDescent}
import graft.queries.Q

/** The two evaluation audits that finish on the driver — ARI/NMI
  * agreement and the SCAN role census over a WedgeStats artifact — pinned
  * equal, row for row and double for double by bit pattern, to their
  * all-relational twins in AuditRelational on seeded random inputs and on
  * the degenerate shapes the two spellings could disagree on; each
  * degenerate case gives the relational answer or a named error, never
  * an NPE. The job counts are pinned so the per-step jobs cannot come
  * back.
  */
class AuditLocalSpec extends SparkSpec {
  import spark.implicits._

  /** Rows as sorted strings with every double written as its bit pattern. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Both spellings' answers (or both their errors) for one input. */
  private def assertSame(local: => DataFrame, rel: => DataFrame, what: String): Unit = {
    def run(df: => DataFrame) =
      try { val d = df; Right((d.schema.map(f => (f.name, f.dataType)), rows(d))) }
      catch { case e: Exception => Left(e) }
    (run(local), run(rel)) match {
      case (Right(l), Right(r)) =>
        assert(l._1 == r._1, s"$what: schema")
        assert(l._2 == r._2, s"$what: local ${l._2.take(8)} != relational ${r._2.take(8)}")
      case (Left(l), Left(r)) =>
        // the one error both raise is Spark's ANSI division by zero
        for (e <- Seq(l, r)) assert(named(e, "DIVIDE_BY_ZERO"), s"$what: $e")
      case (l, r) => fail(s"$what: local $l, relational $r")
    }
  }

  /** Whether an ArithmeticException or IllegalArgumentException whose
    * message holds every needle is in the cause chain. */
  private def named(e: Throwable, needles: String*): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
      (c.isInstanceOf[ArithmeticException] || c.isInstanceOf[IllegalArgumentException]) &&
        needles.forall(c.getMessage.contains)
    }

  private def agree(assign: DataFrame, truth: DataFrame, what: String): Unit =
    assertSame(ClusterEval.agreement(assign, truth),
      AuditRelational.agreementRelational(assign, truth), what)

  /** 120 ids with clusters in 0..k-1 and labels in 0..l-1; some ids only
    * on one side, a few null clusters and labels, one repeated truth id. */
  private def labelled(seed: Int, k: Int, l: Int): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(seed)
    val assign = (0L until 110L).map(i =>
      (i, if (i % 17 == 3) None else Some(rng.nextInt(k).toLong)))
    val truth = ((5L until 120L).map(i =>
      (i, if (i % 19 == 4) None else Some(rng.nextInt(l).toLong))) :+ ((7L, Some(0L))))
    (assign.toDF("id", "cluster"), truth.toDF("id", "label"))
  }

  test("agreement local == relational: seeded random partitions with null keys") {
    for (seed <- 1 to 4; (k, l) <- Seq((2, 3), (7, 4), (40, 5))) {
      val (a, t) = labelled(seed, k, l)
      agree(a, t, s"seed $seed k $k l $l")
    }
  }

  test("agreement degenerate inputs: empty join, one row, null keys, one vs one, singletons") {
    val ids = (0L until 8L)
    agree(ids.map(i => (i, i)).toDF("id", "cluster"),
      ids.map(i => (i + 100, i)).toDF("id", "label"), "empty join")
    agree(Seq((1L, 4L)).toDF("id", "cluster"), Seq((1L, 9L)).toDF("id", "label"), "one row")
    agree(ids.map(i => (i, Option.when(i % 2 == 0)(i % 3))).toDF("id", "cluster"),
      ids.map(i => (i, Option.when(i % 3 != 0)(i % 2))).toDF("id", "label"),
      "null cluster and null label")
    agree(ids.map(i => (i, None: Option[Long])).toDF("id", "cluster"),
      ids.map(i => (i, None: Option[Long])).toDF("id", "label"), "all keys null")
    agree(ids.map(i => (i, 0L)).toDF("id", "cluster"),
      ids.map(i => (i, 5L)).toDF("id", "label"), "one cluster vs one label")
    agree(ids.map(i => (i, i)).toDF("id", "cluster"),
      ids.map(i => (i, i)).toDF("id", "label"), "all singletons")
    agree(ids.map(i => (i, i)).toDF("id", "cluster"),
      ids.map(i => (i, 0L)).toDF("id", "label"), "singletons vs one label")
  }

  /** 40 nodes, 90 random edges plus reversed repeats and self-loops, two
    * edges to ids outside the universe, and universe ids 40..44 with no
    * edges. */
  private def graph(seed: Int): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(seed)
    val e = Seq.fill(90)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val edges = e ++ e.take(6).map(_.swap) ++ e.take(3) ++
      Seq((3L, 3L), (9L, 9L), (2L, 500L), (501L, 7L))
    (edges.toDF("src", "dst"), (0L until 45L).toDF("id"))
  }

  private val epsSettings = Seq((4L, 100L), (9L, 100L), (25L, 100L), (49L, 100L), (1L, 1L))

  private def scanSame(edges: DataFrame, ids: DataFrame, num: Long, den: Long, mu: Int,
      what: String): Unit = {
    val stats = GraphAudit.wedgeStats(edges, ids)
    assertSame(GraphAudit.scan(stats, num, den, mu),
      AuditRelational.scanRelational(stats, num, den, mu), s"$what eps ${num}/$den mu $mu")
    assertSame(GraphAudit.scan(edges, ids, num, den, mu),
      AuditRelational.scanRelational(stats, num, den, mu), s"$what (edges, ids) overload")
  }

  test("scan local == relational: seeded random graphs across eps and mu") {
    for (seed <- 1 to 3) {
      val (edges, ids) = graph(seed)
      val stats = GraphAudit.wedgeStats(edges, ids)
      for ((num, den) <- epsSettings; mu <- Seq(2, 3, 5)) {
        val local = GraphAudit.scan(stats, num, den, mu)
        assertSame(local, AuditRelational.scanRelational(stats, num, den, mu),
          s"seed $seed eps $num/$den mu $mu")
        if (num == 4L && mu == 2)
          assert(local.filter(col("role") === "core").count() > 0, s"seed $seed: no core")
      }
    }
  }

  test("scanCurve == scan at each eps, from one collect of the wedge tables") {
    for (seed <- 1 to 3) {
      val (edges, ids) = graph(seed)
      val stats = GraphAudit.wedgeStats(edges, ids)
      for (den <- Seq(100L, 1L); mu <- Seq(2, 3)) {
        val nums = epsSettings.filter(_._2 == den).map(_._1)
        val curve = GraphAudit.scanCurve(stats, nums, den, mu)
        assert(curve.length == nums.length)
        for ((local, num) <- curve.zip(nums))
          assertSame(local, GraphAudit.scan(stats, num, den, mu),
            s"seed $seed eps $num/$den mu $mu")
      }
    }
    val stats = GraphAudit.wedgeStats(graph(1)._1, graph(1)._2)
    val jobs = Seq(Seq(4L), Seq(4L, 9L, 16L, 49L)).map(nums =>
      jobsOf(GraphAudit.scanCurve(stats, nums, 100L, 3).foreach(_.collect())))
    assert(jobs(0) == jobs(1) && jobs(0) <= 3, s"scanCurve jobs at 1 and 4 eps: $jobs")
  }

  test("scan degenerate inputs: no edges, isolated ids, loops and repeats, outside ids, mu above every degree, eps^2 = 1, repeated and null ids") {
    val (edges, ids) = graph(7)
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    scanSame(none, ids, 9L, 100L, 3, "empty edge set")
    scanSame(none, ids.limit(0), 9L, 100L, 3, "empty edge set and universe")
    scanSame(Seq((1L, 1L), (2L, 2L)).toDF("src", "dst"), ids, 9L, 100L, 2, "only self-loops")
    scanSame(edges, ids, 9L, 100L, 3, "isolated ids, loops, repeats, outside ids")
    scanSame(edges, ids, 9L, 100L, 1000, "mu above every degree")
    scanSame(edges, ids, 1L, 1L, 2, "eps^2 = 1")
    scanSame(edges.filter(col("src") < 20 && col("dst") < 20), ids, 9L, 100L, 2,
      "edges among a subset")
    // a repeated universe id and a null id: the relational joins give a
    // repeated core id m² rows, and a null id one outlier row
    val odd = ids.union(Seq(3L, 3L, 44L).toDF("id"))
      .union(Seq(None: Option[Long]).toDF("id"))
    scanSame(edges, odd, 4L, 100L, 2, "repeated and null ids")
    for (bad <- Seq(() => GraphAudit.scan(edges, ids, 0L, 100L, 3),
      () => GraphAudit.scan(edges, ids, 101L, 100L, 3),
      () => GraphAudit.scan(edges, ids, 9L, 100L, 1)))
      assert(named(intercept[IllegalArgumentException](bad()), "scan:"))
  }

  test("over the audit cap both operators fail by name") {
    val big = spark.range(0L, 200001L).select(col("id"))
    val e1 = intercept[Exception](ClusterEval.agreement(
      big.select(col("id"), col("id").as("cluster")),
      big.select(col("id"), col("id").as("label"))))
    assert(named(e1, "agreement: contingency cells", "more than 200000 rows"), e1.toString)
    val e2 = intercept[Exception](
      GraphAudit.scan(Seq((1L, 2L)).toDF("src", "dst"), big, 9L, 100L, 3))
    assert(named(e2, "scan: degree table", "more than 200000 rows"), e2.toString)
  }

  test("job count: agreement <= 3 and scan over WedgeStats <= 3, flat in clusters, components and eps") {
    val emb = Q.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"), col("label"))
    val truth = emb.select(col("id"), col("label"))
    val agreeJobs = Seq(2, 10, 1000).map(k => jobsOf(ClusterEval.agreement(
      emb.select(col("id"), (col("id") % k).as("cluster")), truth).collect()))
    assert(agreeJobs.forall(_ == agreeJobs.head) && agreeJobs.head <= 3,
      s"agreement jobs at 2, 10, 1000 clusters: $agreeJobs")
    val graph = NNDescent.knnGraph(emb.select(col("id"), col("vec")), "id", "vec", 10,
      iterations = 2).localCheckpoint()
    val stats = GraphAudit.wedgeStats(graph, emb.select(col("id")))
    val scanJobs = Seq(4L, 9L, 49L, 100L).map(num =>
      jobsOf(GraphAudit.scan(stats, num, 100L, 3).collect()))
    assert(scanJobs.forall(_ == scanJobs.head) && scanJobs.head <= 3,
      s"scan jobs at eps^2 4, 9, 49, 100 /100: $scanJobs")
    // the four settings give different numbers of core components
    val comps = Seq(4L, 9L, 49L, 100L).map(num =>
      GraphAudit.scan(stats, num, 100L, 3).select(col("cluster")).distinct().count())
    assert(comps.distinct.size > 1, s"clusters per eps: $comps")
    info(s"jobs: agreement $agreeJobs, scan $scanJobs; clusters per eps $comps")
  }
}
