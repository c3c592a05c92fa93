package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.BruteForceKNN

/** Ports of the reference's distance unit tests
  * (py/test_hnsw.py:172-183, py/test_pq.py:43-53) plus kNN invariants.
  */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("L2Sq([1,2,3],[4,5,6]) == 27 (py/test_hnsw.py:172-178)") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(l2Sq($"a", $"b")).head.getDouble(0)
    assert(d === 27.0)
  }

  test("L2Sq identical vectors == 0; empty == 0") {
    val df = Seq((Array(1.5, -2.5), Array(1.5, -2.5))).toDF("a", "b")
    assert(df.select(l2Sq($"a", $"b")).head.getDouble(0) === 0.0)
    val e = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    assert(e.select(l2Sq($"a", $"b")).head.getDouble(0) === 0.0)
  }

  test("dot / norm / cosine basics") {
    val df = Seq((Array(3.0, 4.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(dot($"a", $"b")).head.getDouble(0) === 25.0)
    assert(df.select(l2Norm($"a")).head.getDouble(0) === 5.0)
    assert(
      math.abs(df.select(cosineSim($"a", $"b")).head.getDouble(0) - 1.0) < 1e-12
    )
  }

  test("subvector slices match contiguous split (py/pq.py:63-78)") {
    val df = Seq(Tuple1(Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))).toDF("v")
    val s1 = df.select(subvector($"v", 1, 2)).head.getSeq[Double](0)
    assert(s1 == Seq(2.0, 3.0))
  }

  test(
    "unit-square kNN: query [0.1,0.1] -> NN id 0 dist 0.02 (py/test_hnsw.py:205-238)"
  ) {
    val base = Seq(
      (0L, Array(0.0, 0.0)),
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.0, 1.0)),
      (3L, Array(1.0, 1.0))
    ).toDF("neighbor_id", "bv")
    val q = Seq((100L, Array(0.1, 0.1))).toDF("query_id", "qv")
    val r = BruteForceKNN.knn(q, base, 4).orderBy("rnk").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(math.abs(r(0).getDouble(2) - 0.02) < 1e-12)
  }

  test("kNN tie-break: equal distances order by ascending id") {
    val base = Seq(
      (5L, Array(1.0, 0.0)),
      (2L, Array(0.0, 1.0)),
      (9L, Array(-1.0, 0.0))
    ).toDF("neighbor_id", "bv")
    val q = Seq((0L, Array(0.0, 0.0))).toDF("query_id", "qv")
    val r = BruteForceKNN.knn(q, base, 3).orderBy("rnk").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 5L, 9L))
  }

  test("top-k is a prefix of the full sort (k=3 vs k=all)") {
    val base = (0L to 50L).map(i => (i, Array(i.toDouble, 0.0))).toDF("neighbor_id", "bv")
    val q = Seq((0L, Array(25.0, 0.0))).toDF("query_id", "qv")
    val k3 = BruteForceKNN.knn(q, base, 3).orderBy("rnk").collect().map(_.getLong(1))
    val kAll = BruteForceKNN.knn(q, base, 51).orderBy("rnk").collect().map(_.getLong(1))
    assert(kAll.take(3).toSeq == k3.toSeq)
  }

  test("heap top-k aggregate == rank-window top-k on random data") {
    val rng = new scala.util.Random(13)
    val base = (0L until 300L).map(i => (i, Array.fill(8)(rng.nextDouble())))
      .toDF("neighbor_id", "bv")
    val q = (0L until 7L).map(i => (i * 100, Array.fill(8)(rng.nextDouble())))
      .toDF("query_id", "qv")
    val heap = BruteForceKNN.knn(q, base, 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    val win = BruteForceWindow.knnWindow(q, base, 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    assert(heap.except(win).count() == 0 && win.except(heap).count() == 0)
  }

  test("block-grid shuffled kNN == broadcast kNN on random data") {
    val rng = new scala.util.Random(29)
    val base = (0L until 300L).map(i => (i, Array.fill(8)(rng.nextDouble())))
      .toDF("neighbor_id", "bv")
    val q = (0L until 40L).map(i => (i * 7, Array.fill(8)(rng.nextDouble())))
      .toDF("query_id", "qv")
    val bc = BruteForceKNN.knn(q, base, 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    val grid = BruteForceKNN.knnShuffled(q, base, 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    assert(grid.except(bc).count() == 0 && bc.except(grid).count() == 0)
  }

  test("heap top-k handles ties by ascending id") {
    val base = Seq((9L, Array(1.0)), (2L, Array(1.0)), (5L, Array(1.0)))
      .toDF("neighbor_id", "bv")
    val q = Seq((0L, Array(0.0))).toDF("query_id", "qv")
    val r = BruteForceKNN.knn(q, base, 2).orderBy("rnk").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 5L))
  }

  test("rangeSearch == all pairs within radius (filter of the full kNN)") {
    val rng = new scala.util.Random(7)
    val base = (0L until 200L).map(i => (i, Array.fill(6)(rng.nextDouble())))
      .toDF("neighbor_id", "bv")
    val q = (0L until 5L).map(i => (i * 40, Array.fill(6)(rng.nextDouble())))
      .toDF("query_id", "qv")
    val r = 0.4
    val got = BruteForceKNN.rangeSearch(q, base, r)
      .select("query_id", "neighbor_id", "dist")
    val want = BruteForceKNN.knn(q, base, 200)
      .filter($"dist" <= r)
      .select("query_id", "neighbor_id", "dist")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    assert(got.count() > 0) // radius chosen to be non-trivial on this data
  }

  test("knnMrl: full-corpus shortlist == exact knn; full-dim prefix == exact") {
    val rng = new scala.util.Random(41)
    val base = (0L until 250L).map(i => (i, Array.fill(12)(rng.nextDouble())))
      .toDF("neighbor_id", "bv")
    val q = (0L until 20L).map(i => (i * 11, Array.fill(12)(rng.nextDouble())))
      .toDF("query_id", "qv")
    val exact = BruteForceKNN.knn(q, base, 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    // shortlist covers the whole corpus -> the rerank IS the exact search
    val allShort = BruteForceKNN.knnMrl(q, base, dPrefix = 4, kShort = 250, k = 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    assert(allShort.except(exact).count() == 0 && exact.except(allShort).count() == 0)
    // prefix = full dim -> stage 1 already ranks exactly, any kShort >= k works
    val fullPre = BruteForceKNN.knnMrl(q, base, dPrefix = 12, kShort = 10, k = 10)
      .select("query_id", "neighbor_id", "dist", "rnk")
    assert(fullPre.except(exact).count() == 0 && exact.except(fullPre).count() == 0)
  }

  test("knnMrl recall@10 improves with shortlist depth (prefix 4 of 12)") {
    val rng = new scala.util.Random(43)
    val base = (0L until 400L).map(i => (i, Array.fill(12)(rng.nextDouble())))
      .toDF("neighbor_id", "bv")
    val q = (0L until 25L).map(i => (i * 16, Array.fill(12)(rng.nextDouble())))
      .toDF("query_id", "qv")
    val truth = BruteForceKNN.knn(q, base, 10)
      .select("query_id", "neighbor_id")
    def recall(kShort: Int): Double = {
      val got = BruteForceKNN.knnMrl(q, base, dPrefix = 4, kShort = kShort, k = 10)
        .select("query_id", "neighbor_id")
      got.intersect(truth).count().toDouble / truth.count()
    }
    val r20 = recall(20)
    val r80 = recall(80)
    assert(r80 >= r20, s"recall not monotone: kShort=80 $r80 < kShort=20 $r20")
    // uniform-random data is MRL's worst case — a 4-of-12 prefix carries
    // only 1/3 of the distance variance (matryoshka-trained embeddings
    // concentrate energy in the prefix; random ones can't). 0.65 is the
    // data-honest floor at this kShort; observed ~0.73.
    assert(r80 >= 0.65, s"recall@10 with kShort=80 too low: $r80")
  }

  test("knnMaxSim scores by per-query-token best alignment (hand-computed)") {
    // doc 1: tokens {(1,0), (0,1)}; doc 2: tokens {(1,1), (-1,0)}
    // query: tokens {(1,0), (0,2)}
    //   doc 1: max(1,0) + max(0,2) = 3
    //   doc 2: max(1,-1) + max(2,0) = 3 -> tie, doc 1 wins on id
    // doc 3: tokens {(2,0), (0,0)} -> max(2,0) + max(0,0) = 2
    val docs = Seq(
      (1L, Array(Array(1.0, 0.0), Array(0.0, 1.0))),
      (2L, Array(Array(1.0, 1.0), Array(-1.0, 0.0))),
      (3L, Array(Array(2.0, 0.0), Array(0.0, 0.0)))
    ).toDF("doc_id", "dtoks")
    val q = Seq((0L, Array(Array(1.0, 0.0), Array(0.0, 2.0))))
      .toDF("query_id", "qtoks")
    val r = BruteForceKNN.knnMaxSim(q, docs, 3).orderBy("rnk").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(r.map(_.getDouble(2)).toSeq == Seq(3.0, 3.0, 2.0))
  }

  test("native MaxSimExpr == HOF formulation, bit-for-bit") {
    import graft.functions.VectorExpressions.{dotFast, maxSimFast}
    val rng = new scala.util.Random(17)
    val rows = (0L until 300L).map { i =>
      (i,
        Array.fill(2 + (i % 3).toInt)(Array.fill(7)(rng.nextDouble() * 2 - 1)),
        Array.fill(1 + (i % 4).toInt)(Array.fill(7)(rng.nextDouble() * 2 - 1)))
    }.toDF("id", "qtoks", "dtoks")
    val hof = aggregate(
      $"qtoks", lit(0.0),
      (acc, qt) => acc + array_max(transform($"dtoks", dt => dotFast(qt, dt))))
    val r = rows
      .select($"id", maxSimFast($"qtoks", $"dtoks").as("a"), hof.as("b"))
      .collect()
    r.foreach(x => assert(x.getDouble(1) == x.getDouble(2), x))
    // empty doc bag -> null (array_max of empty), empty query bag -> 0.0
    val edge = Seq(
      (1L, Array(Array(1.0)), Array.empty[Array[Double]]),
      (2L, Array.empty[Array[Double]], Array(Array(1.0)))
    ).toDF("id", "qtoks", "dtoks")
      .select($"id", maxSimFast($"qtoks", $"dtoks").as("a"))
      .orderBy($"id").collect()
    assert(edge(0).isNullAt(1))
    assert(edge(1).getDouble(1) == 0.0)
  }

  test("MaxSimExpr matches the HOF form on NaN inputs too (NaN = greatest)") {
    import graft.functions.VectorExpressions.{dotFast, maxSimFast}
    val rows = Seq(
      (1L, Array(Array(1.0, 2.0)), Array(Array(Double.NaN, 0.0), Array(3.0, 1.0))),
      (2L, Array(Array(1.0, Double.NaN)), Array(Array(2.0, 2.0)))
    ).toDF("id", "qtoks", "dtoks")
    val hof = aggregate(
      $"qtoks", lit(0.0),
      (acc, qt) => acc + array_max(transform($"dtoks", dt => dotFast(qt, dt))))
    val r = rows
      .select($"id", maxSimFast($"qtoks", $"dtoks").as("a"), hof.as("b"))
      .orderBy($"id").collect()
    r.foreach { x =>
      assert(x.getDouble(1).isNaN == x.getDouble(2).isNaN, x)
      if (!x.getDouble(1).isNaN) assert(x.getDouble(1) == x.getDouble(2), x)
    }
    assert(r.forall(_.getDouble(1).isNaN)) // both rows hit a NaN dot
  }

  test("knnMaxSim on a single-token bag reduces to knnDot") {
    val rng = new scala.util.Random(11)
    val base = (0L until 100L).map(i => (i, Array.fill(8)(rng.nextDouble())))
    val qs = (0L until 5L).map(i => (i * 20, Array.fill(8)(rng.nextDouble())))
    val docs1 = base.map { case (i, v) => (i, Array(v)) }.toDF("doc_id", "dtoks")
    val q1 = qs.map { case (i, v) => (i, Array(v)) }.toDF("query_id", "qtoks")
    val ms = BruteForceKNN.knnMaxSim(q1, docs1, 10)
      .select($"query_id", $"doc_id".as("neighbor_id"), $"score".as("dot"), $"rnk")
    val dt = BruteForceKNN.knnDot(
      qs.toDF("query_id", "qv"), base.toDF("neighbor_id", "bv"), 10)
    assert(ms.except(dt).count() == 0 && dt.except(ms).count() == 0)
  }

  test("rangeSearch includes the self-pair at dist 0 and excludes beyond-radius") {
    val base = Seq(
      (0L, Array(0.0, 0.0)),
      (1L, Array(1.0, 0.0)),
      (2L, Array(5.0, 5.0))
    ).toDF("neighbor_id", "bv")
    val q = Seq((0L, Array(0.0, 0.0))).toDF("query_id", "qv")
    val r = BruteForceKNN.rangeSearch(q, base, 1.0)
      .orderBy("neighbor_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 1L))
    assert(r(0).getDouble(2) == 0.0)
  }

  test("bit_sign_dot: native == HOF fold == interpreted eval, exact; ragged bounded") {
    import graft.functions.VectorExpressions.bitSignDotFast
    import graft.functions.BitSignDotExpr
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val rng = new scala.util.Random(17)
    val rows = Seq.tabulate(30) { i =>
      val words = Array.fill(4)(rng.nextInt(65536))
      val rq = Array.fill(64)(rng.nextDouble() * 2 - 1)
      (i.toLong, words, rq)
    }
    val df = rows.toDF("id", "words", "rq")
    val native = df
      .select(col("id"), bitSignDotFast(col("words"), col("rq")).as("s"))
      .orderBy("id").collect().map(_.getDouble(1))
    val hof = df
      .select(col("id"), expr(
        "aggregate(sequence(0, 63), 0D, (acc, j) -> acc + " +
          "IF((shiftright(words[j div 16], j % 16) & 1) = 1, rq[j], -rq[j]))"
      ).as("s"))
      .orderBy("id").collect().map(_.getDouble(1))
    rows.indices.foreach { i =>
      assert(native(i) == hof(i), s"row $i: native vs HOF")
      val interp = BitSignDotExpr(
        Literal.create(rows(i)._2.toSeq, ArrayType(IntegerType)),
        Literal.create(rows(i)._3.toSeq, ArrayType(DoubleType))
      ).eval(InternalRow.empty).asInstanceOf[Double]
      assert(interp == hof(i), s"row $i: interpreted vs HOF")
    }
    // ragged inputs bound the loop by BOTH sides (no out-of-bounds read)
    val short = BitSignDotExpr(
      Literal.create(Seq(0xFFFF), ArrayType(IntegerType)), // 1 word = 16 bits
      Literal.create(Seq.fill(64)(1.0), ArrayType(DoubleType))
    ).eval(InternalRow.empty).asInstanceOf[Double]
    assert(short == 16.0, s"short-words sum $short")
  }

  test("rolling_hash_windows: hash-equal iff window-equal; codegen == interpreted") {
    import graft.functions.RollingHashWindowsExpr
    import graft.functions.RollingHashWindowsExpr.rollingHashWindows
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val w = 5
    // small alphabet forces genuine repeated windows
    val rng = new scala.util.Random(23)
    val texts = Seq.tabulate(20)(i =>
      (i.toLong, Seq.fill(40 + rng.nextInt(60))("abc" (rng.nextInt(3))).mkString))
    val df = texts.toDF("id", "text")
    val got = df
      .select(col("id"), posexplode(rollingHashWindows(col("text"), w)).as(Seq("p", "h")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // window count per doc and hash⇔substring agreement, both directions
    val byDoc = got.groupBy(_._1)
    texts.foreach { case (id, t) =>
      assert(byDoc(id).length == t.length - w + 1, s"doc $id window count")
    }
    val pairs = got.map { case (id, p, h) =>
      (texts(id.toInt)._2.substring(p, p + w), h)
    }
    val byWin = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byWin.values.forall(_.size == 1), "equal windows must hash equal")
    val byHash = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    assert(byHash.values.forall(_.size == 1), "distinct windows collided")
    // interpreted eval == codegen path (same values through the DataFrame)
    val interp = RollingHashWindowsExpr(
      Literal.create(UTF8String.fromString(texts.head._2),
        org.apache.spark.sql.types.StringType), w
    ).eval(InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    assert(interp.toSeq == byDoc(0L).sortBy(_._2).map(_._3).toSeq)
    // shorter-than-window and null inputs
    val edge = Seq((1L, "abcd"), (2L, null: String)).toDF("id", "text")
      .select(col("id"), rollingHashWindows(col("text"), w).as("hs"))
      .collect()
    assert(edge.find(_.getLong(0) == 1L).get.getSeq[Long](1).isEmpty)
    assert(edge.find(_.getLong(0) == 2L).get.isNullAt(1))
  }
}
