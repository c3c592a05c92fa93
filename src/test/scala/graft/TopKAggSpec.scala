package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.TopKAgg.bestPer

/** [[graft.functions.TopKAgg.bestPer]], the one top-k-per-key operator:
  * its order (ascending (score, id), NaN last, -0.0 ties 0.0), its
  * output shape, and a guard that no other site spells the heap's
  * explode by hand.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  /** (keys…, id, dist, rnk) rows, sorted for comparison. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** The reference order: Spark's double order (NaN last, -0.0 == 0.0)
    * then ascending id, as one stable sort and a slice. */
  private def expected(
      data: Seq[(String, Long, Double)], k: Int): Seq[String] =
    data.groupBy(_._1).toSeq.flatMap { case (key, group) =>
      group
        .sortWith { (a, b) =>
          val c = if (a._3 == b._3) 0 else java.lang.Double.compare(a._3, b._3)
          if (c != 0) c < 0 else a._2 < b._2
        }
        .take(k)
        .zipWithIndex
        .map { case ((_, id, s), i) => s"$key,$id,$s,${i + 1}" }
    }.sorted

  test("bestPer == sort-and-slice per key on seeded input with ties and NaN") {
    val rng = new scala.util.Random(41)
    val data = (0L until 400L).map { id =>
      val s = rng.nextInt(12) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case j => (j % 5).toDouble // few distinct values: many ties
      }
      (s"g${rng.nextInt(6)}", id, s)
    }
    val df = rng.shuffle(data).toDF("key", "id", "score").repartition(5)
    for (k <- Seq(1, 7, 100)) {
      val got = bestPer(df, Seq("key"), col("score"), "id", k)
      assert(rows(got) == expected(data, k), s"k=$k")
    }
  }

  test("bestPer breaks ties by ascending id and puts NaN last") {
    val df = Seq(
      ("a", 9L, 1.0), ("a", 2L, 1.0), ("a", 5L, Double.NaN),
      ("a", 7L, 1.0), ("a", 1L, Double.NaN), ("a", 3L, 0.5)
    ).toDF("key", "id", "score")
    val got = bestPer(df, Seq("key"), col("score"), "id", 6)
      .orderBy("rnk").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 2L, 7L, 9L, 1L, 5L))
    assert(got.map(_.getInt(3)).toSeq == (1 to 6))
  }

  test("bestPer ties -0.0 with 0.0 and orders them by id") {
    val df = Seq(("a", 4L, 0.0), ("a", 2L, -0.0), ("a", 3L, 0.0), ("a", 1L, 1.0))
      .toDF("key", "id", "score")
    val got = bestPer(df, Seq("key"), col("score"), "id", 2)
      .orderBy("rnk").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 3L))
  }

  test("bestPer with k larger than a group keeps the whole group") {
    val df = Seq(("a", 1L, 3.0), ("a", 2L, 1.0), ("b", 3L, 2.0))
      .toDF("key", "id", "score")
    val got = bestPer(df, Seq("key"), col("score"), "id", 50)
    assert(rows(got) == Seq("a,1,3.0,2", "a,2,1.0,1", "b,3,2.0,1"))
  }

  test("bestPer on an empty frame is empty with the full schema") {
    val df = Seq.empty[(String, Long, Double)].toDF("key", "id", "score")
    val got = bestPer(df, Seq("key"), col("score"), "id", 3)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("key", "id", "dist", "rnk"))
  }

  test("bestPer groups by two key columns; schema is (keys, id, dist, rnk int)") {
    val df = Seq(
      (1, "x", 10L, 0.3), (1, "x", 11L, 0.1), (1, "y", 12L, 0.2),
      (2, "x", 13L, 0.4), (2, "x", 14L, 0.4), (2, "x", 15L, 0.0)
    ).toDF("ef", "q", "nid", "s")
    val got = bestPer(df, Seq("ef", "q"), -col("s"), "nid", 2)
    assert(got.schema.map(f => f.name -> f.dataType) == Seq(
      "ef" -> IntegerType, "q" -> org.apache.spark.sql.types.StringType,
      "nid" -> LongType, "dist" -> DoubleType, "rnk" -> IntegerType))
    assert(rows(got) == Seq(
      "1,x,10,-0.3,1", "1,x,11,-0.1,2", "1,y,12,-0.2,1",
      "2,x,13,-0.4,1", "2,x,14,-0.4,2"))
  }

  test("no hand-spelled heap explode under src/main: TopKAgg.bestPer is the one") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val spelled = """explode\(col\("tk""".r
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => p.getFileName.toString != "TopKAgg.scala")
        .flatMap { p =>
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .split("\n").zipWithIndex
            .collect { case (line, i) if spelled.findFirstIn(line).isDefined =>
              s"$p:${i + 1}"
            }
        }
        .toList
      finally stream.close()
    assert(offenders.isEmpty,
      s"top-k heap exploded by hand at ${offenders.mkString(", ")}: use TopKAgg.bestPer")
  }
}
