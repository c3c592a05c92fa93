package graft

import org.apache.spark.sql.functions._

import graft.operators.{BruteForceKNN, RpTree}
import graft.queries.Q

/** Invariants for the RP-tree forest. */
class RpTreeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Q.t(spark, sf0001, "embeddings")
    .select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("vec"))
  private lazy val q = emb
    .filter(col("id") % 10 === 0)
    .select(col("id").as("query_id"), col("vec").as("qv"))

  private def recallAt10(numTrees: Int): Double = {
    val f = RpTree.build(emb, "id", "vec", numTrees, depth = 4, dim = 64)
    val got = RpTree
      .knn(f, emb, "id", "vec", q, "query_id", "qv", 10, numTrees, 4, 64)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = BruteForceKNN
      .knn(q, emb.select(col("id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (got & exact).size.toDouble / exact.size
  }

  test("levelMedians == the windowed lower median on seeded random frames: ties, even sizes, empty nodes") {
    import org.apache.spark.sql.expressions.Window
    val numTrees = 3
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var empty = 0
    for (seed <- 1 to 4; level <- Seq(0, 2, 3)) {
      val rng = new scala.util.Random(seed * 31 + level)
      // 0..9 rows per (tree, node): odd and even counts and empty nodes;
      // projections from a 5-value grid (ties, -0.0 beside 0.0)
      val grid = Array(-1.0, -0.0, 0.0, 0.5, 1.0)
      val frame = (for {
        t <- 0 until numTrees
        nd <- 0L until (1L << level)
        _ <- 0 until rng.nextInt(10)
      } yield (t, nd, grid(rng.nextInt(grid.length))))
        .zipWithIndex.map { case ((t, nd, p), i) => (t, nd, p, i.toLong) }
        .toDF("tree", "node", "proj", "id")
      // the build's level layout: range-partitioned, sorted, checkpointed
      val base = frame
        .repartitionByRange(col("tree"), col("node"), col("proj"), col("id"))
        .sortWithinPartitions(col("tree"), col("node"), col("proj"), col("id"))
        .localCheckpoint()
      val got = RpTree.levelMedians(base, numTrees, level)
      val byNode = Window.partitionBy(col("tree"), col("node"))
      val want = frame
        .withColumn("rn", row_number().over(byNode.orderBy(col("proj"), col("id"))))
        .withColumn("cnt", count(lit(1)).over(byNode))
        .filter(col("rn") === floor((col("cnt") + 1) / 2))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val complete = (for (t <- 0 until numTrees; nd <- 0L until (1L << level))
        yield (t, nd) -> want.getOrElse((t, nd), Double.PositiveInfinity)).toMap
      def bits(m: Map[(Int, Long), Double]) =
        m.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }
      assert(bits(got) == bits(complete), s"seed $seed level $level")
      sizes ++= frame.groupBy("tree", "node").count().collect().map(_.getLong(2))
      empty += complete.count(_._2.isPosInfinity)
    }
    assert(empty > 0 && sizes.exists(_ % 2 == 0) && sizes.exists(_ % 2 == 1),
      s"the frames lack an empty, even or odd node: $empty empty, sizes ${sizes.distinct}")
  }

  test("median splits keep leaves balanced; every point lands in one leaf per tree") {
    val f = RpTree.build(emb, "id", "vec", numTrees = 2, depth = 4, dim = 64)
    val n = emb.count()
    val sizes = f.leaves.groupBy(col("tree"), col("leaf")).count()
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
    // each tree holds every point exactly once
    val perTree = sizes.groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    perTree.foreach { case (t, tot) => assert(tot == n, s"tree $t holds $tot of $n") }
    // lower-median splits on continuous projections: leaf sizes within
    // the ±1-per-level rounding envelope of n/2^depth
    val want = n / 16.0
    sizes.foreach { case ((t, l), s) =>
      assert(math.abs(s - want) <= 4, s"tree $t leaf $l size $s vs ~$want")
    }
  }

  test("build is deterministic: two builds produce identical leaf tables") {
    val a = RpTree.build(emb, "id", "vec", 2, 4, 64).leaves
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val b = RpTree.build(emb, "id", "vec", 2, 4, 64).leaves
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("forest recall floor on random 64-d data; more trees never hurt") {
    val r2 = recallAt10(2)
    val r4 = recallAt10(4)
    // 2 trees x 16 leaves scan ~12% of the corpus — random data is the
    // tree family's worst case (same honesty as the routed-HNSW floors)
    assert(r2 >= 0.2, s"recall@10 with 2 trees: $r2")
    assert(r4 >= r2 - 1e-12, s"recall fell with more trees: $r2 -> $r4")
  }

  test("save/load round-trip: identical search results; incomplete artifact rejected") {
    val f = RpTree.build(emb, "id", "vec", 2, 4, 64)
    val dir = java.nio.file.Files.createTempDirectory("rptforest").toString
    RpTree.save(f, dir)
    val g = RpTree.load(spark, dir)
    val a = RpTree.knn(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = RpTree.knn(g, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, "search over the loaded forest diverged")
    // drop one median row -> load must refuse
    val dir2 = java.nio.file.Files.createTempDirectory("rptforest2").toString
    f.leaves.write.partitionBy("tree").parquet(s"$dir2/leaves")
    f.medians.filter(!(col("level") === 2 && col("node") === 1))
      .write.parquet(s"$dir2/medians")
    intercept[IllegalArgumentException] { RpTree.load(spark, dir2) }
  }

  test("spillRecallCurve: recall non-decreasing in the margin, bounded by 1") {
    val f = RpTree.build(emb, "id", "vec", 2, 4, 64)
    val curve = RpTree
      .spillRecallCurve(f, emb, "id", "vec", q, "query_id", "qv",
        10, 2, 4, 64, Seq(0.0, 0.1, 0.3, 1.0))
      .orderBy(col("spill"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    assert(curve.length == 4)
    val nq = curve.head._2
    curve.foreach { case (_, n, rec) =>
      assert(n == nq, "query universe changed across margins")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    curve.map(_._3).sliding(2).foreach { case Array(a, b) =>
      assert(b >= a - 1e-12, s"recall fell with a larger margin: $a -> $b")
    }
  }

  test("spillRecallCurve: the shared req-tagged descent equals per-margin knnSpill recall exactly") {
    // the multi-margin curve runs ONE widest-margin descent and gates
    // narrower margins by the carried requirement; this pins that hoist
    // to the independent single-margin search path (its own descent +
    // rerank), margin by margin
    val f = RpTree.build(emb, "id", "vec", 2, 4, 64)
    val spills = Seq(0.0, 0.1, 0.3)
    val truth = BruteForceKNN
      .knn(q, emb.select(col("id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val curve = RpTree
      .spillRecallCurve(f, emb, "id", "vec", q, "query_id", "qv",
        10, 2, 4, 64, spills)
      .collect()
      .map(r => (r.getDouble(0), (r.getLong(1), r.getDouble(2)))).toMap
    spills.foreach { s =>
      val got = RpTree
        .knnSpill(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64, s)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byQ = got.groupBy(_._1)
      val recalls = byQ.values.map(_.count(truth.contains).toDouble / 10.0)
      val mean = recalls.sum / recalls.size
      val (nq, rec) = curve(s)
      assert(nq == byQ.size.toLong, s"margin $s: n_queries $nq vs ${byQ.size}")
      assert(math.abs(rec - mean) < 1e-9, s"margin $s: recall $rec vs $mean")
    }
  }

  test("degenerate corpus (n < 2^depth): sentinel medians complete every level, no query drops") {
    import spark.implicits._
    // 5 points, depth 4 -> branches shrink to 1 point and leave empty
    // children; +Inf sentinels must keep every level at 2^level rows so
    // save/load round-trips and descent never drops a query mid-walk
    val tiny = (0L until 5L)
      .map(i => (i, Seq.tabulate(64)(d => math.sin(i * 13.0 + d))))
      .toDF("id", "vec")
    val f = RpTree.build(tiny, "id", "vec", 2, 4, 64)
    val perLevel = f.medians.groupBy(col("level"), col("tree"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (lvl <- 0 until 4; tr <- 0 until 2)
      assert(perLevel((lvl, tr)) == (1L << lvl),
        s"level $lvl tree $tr has ${perLevel((lvl, tr))} median rows")
    val dir = java.nio.file.Files.createTempDirectory("rptdegen").toString
    RpTree.save(f, dir)
    val g = RpTree.load(spark, dir) // completeness check must pass
    // 40 probe points spread wide: every one must reach a leaf in BOTH trees
    val probes = (100L until 140L)
      .map(i => (i, Seq.tabulate(64)(d => math.cos(i * 7.0 + d) * 3)))
      .toDF("id", "vec")
    val asg = RpTree.assignPoints(probes, g.medians, "id", "vec", 2, 4, 64)
    assert(asg.count() == 40L * 2, "descent dropped probes at an empty node")
    // all corpus points still land in exactly one leaf per tree
    val leaves = RpTree.assignPoints(tiny, g.medians, "id", "vec", 2, 4, 64)
    assert(leaves.count() == 5L * 2)
  }

  test("spill descent: zero margin == plain; candidates superset; recall never drops") {
    val f = RpTree.build(emb, "id", "vec", 2, 4, 64)
    val plain = RpTree
      .knn(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val zero = RpTree
      .knnSpill(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64, spill = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(zero == plain, "spill=0 must reduce to the single-path descent")
    // visited leaves with a margin are a superset per (tree, query)
    val v0 = RpTree.assignPointsSpill(q, f.medians, "query_id", "qv", 2, 4, 64, 0.0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val v1 = RpTree.assignPointsSpill(q, f.medians, "query_id", "qv", 2, 4, 64, 0.2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(v0.subsetOf(v1), "spill descent lost a plain-descent leaf")
    // recall floor: spill search at the exact-kNN ground truth
    val exact = BruteForceKNN
      .knn(q, emb.select(col("id").as("neighbor_id"), col("vec").as("bv")), 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spill = RpTree
      .knnSpill(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64, 0.2)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rPlain = (plain.map(t => (t._1, t._2)) & exact).size.toDouble / exact.size
    val rSpill = (spill & exact).size.toDouble / exact.size
    assert(rSpill >= rPlain - 1e-12, s"spill recall $rSpill < plain $rPlain")
  }

  test("every returned neighbor shares a leaf with its query in some tree") {
    val f = RpTree.build(emb, "id", "vec", 2, 4, 64)
    val got = RpTree
      .knn(f, emb, "id", "vec", q, "query_id", "qv", 10, 2, 4, 64)
    val leafOf = f.leaves.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // recompute the query descent via the median tables the same way
    val meds = f.medians.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val qs = q.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qLeaf = (for {
      (qid, qv) <- qs; t <- 0 until 2
    } yield {
      var node = 0L
      for (lvl <- 0 until 4) {
        val h = RpTree.plane(t, lvl, 64)
        var s = 0.0; var i = 0
        while (i < 64) { s += qv(i) * h(i); i += 1 }
        node = node * 2 + (if (s <= meds((lvl, t, node))) 0L else 1L)
      }
      (qid, t) -> node
    }).toMap
    got.collect().foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      val shares = (0 until 2).exists(t => leafOf((t, nid)) == qLeaf((qid, t)))
      assert(shares, s"neighbor $nid of query $qid shares no leaf")
    }
  }
}
