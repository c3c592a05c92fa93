package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IvfAdc, IvfIndex, KMeansLocal, PQModel}

/** The one-pass [[IvfAdc.searchPartitioned]] against its relational twin
  * ([[IvfAdcRelational.searchPartitionedRelational]]): equal rows, dist
  * bits included, on seeded indexes through maintenance and at the edges
  * of k and nprobe; a bounded warm job count; named errors on bad query
  * and index input; and the declared index and tombstone-log schemas
  * equal to what the writers put in the parquet footers.
  */
class IvfAdcOnePassSpec extends SparkSpec {
  import spark.implicits._

  private val d = 16
  private val nCells = 6
  private val rnd = new java.util.Random(13)
  private val centers: Array[Array[Double]] =
    Array.fill(nCells)(Array.fill(d)(rnd.nextGaussian() * 4))
  private val points: Seq[(Long, Array[Double])] =
    (0 until 600).map(i => (i.toLong, centers(i % nCells).map(_ + rnd.nextGaussian())))
  // coarse codebooks: many codes collide, so (dist, id) ties are exercised
  private val model = PQModel(4, 8, d,
    Array.fill(4)(Array.fill(8)(Array.fill(d / 4)(rnd.nextGaussian()))))

  private def cellOf(v: Array[Double]): Int =
    centers.indices.minBy(c => KMeansLocal.l2Sq(v, centers(c)))

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")

  private def queriesOf(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("query_id", "qv")

  private val queries = queriesOf(
    (0 until 12).map(i => (1000L + i, centers(i % nCells).map(_ + rnd.nextGaussian() * 1.5))))

  private def newPath(name: String): String =
    Files.createTempDirectory(name).toString + "/idx"

  private def built(name: String): String = {
    val path = newPath(name)
    IvfAdc.build(spark, frame(points), "id", "vec", centers, model, path)
    path
  }

  private def onePass(path: String, qs: DataFrame, k: Int, nprobe: Int): DataFrame =
    IvfAdc.searchPartitioned(spark, path, qs, "query_id", "qv", centers, model, k, nprobe)

  /** (qid, neighbor, dist bits, rnk) rows in a fixed order. */
  private def bits(df: DataFrame): Seq[(String, Long, Long, Int)] =
    df.collect().toSeq
      .map(r => (String.valueOf(r.get(0)), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4, r._2))

  private def assertTwin(path: String, qs: DataFrame, k: Int, nprobe: Int): Seq[(String, Long, Long, Int)] = {
    val one = onePass(path, qs, k, nprobe)
    val rel = IvfAdcRelational.searchPartitionedRelational(
      spark, path, qs, "query_id", "qv", centers, model, k, nprobe)
    assert(one.schema == rel.schema)
    val (a, b) = (bits(one), bits(rel))
    assert(a == b, s"one-pass ${a.size} rows vs relational ${b.size}")
    a
  }

  private def illegalArg(t: Throwable): Option[IllegalArgumentException] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: IllegalArgumentException => e
    }

  private def failsWith(fragments: String*)(body: => Any): Unit = {
    val t = intercept[Throwable](body)
    val e = illegalArg(t)
    assert(e.exists(x => fragments.forall(x.getMessage.contains)),
      s"expected IllegalArgumentException with $fragments, got $t")
  }

  test("fresh build: one pass == the relational twin, bit for bit") {
    val rows = assertTwin(built("onepass-fresh"), queries, k = 5, nprobe = 2)
    assert(rows.size == 12 * 5)
  }

  test("after upserts, deletes and a re-upsert into another cell: one pass == the twin") {
    val path = newPath("onepass-maint")
    IvfAdc.build(spark, frame(points.filter(_._1 % 5 != 0)), "id", "vec", centers, model, path)
    IvfAdc.upsert(spark, path, frame(points.filter(_._1 % 5 == 0)), "id", "vec", centers, model)
    IvfAdc.delete(spark, path, points.filter(_._1 % 7 == 0).map(_._1).toDF("id"))
    val moved = Seq(3L, 10L, 11L).map { id =>
      val from = cellOf(points(id.toInt)._2)
      val to = (from + 3) % nCells
      (id, centers(to).map(_ + rnd.nextGaussian() * 0.5))
    }
    moved.foreach { case (id, v) => assert(cellOf(v) != cellOf(points(id.toInt)._2)) }
    IvfAdc.upsert(spark, path, frame(moved), "id", "vec", centers, model)
    val rows = assertTwin(path, queries, k = 5, nprobe = 2)
    assert(!rows.exists(r => r._2 % 7 == 0 && !moved.exists(_._1 == r._2)))
    assertTwin(path, queries, k = 40, nprobe = nCells)
  }

  test("a probed cell whose rows are all tombstoned: one pass == the twin") {
    val path = built("onepass-deadcell")
    val dead = points.filter(p => cellOf(p._2) == 2).map(_._1)
    assert(dead.nonEmpty)
    IvfAdc.delete(spark, path, dead.toDF("id"))
    val atDead = queriesOf(Seq((7L, centers(2)), (8L, centers(3))))
    val two = assertTwin(path, atDead, k = 5, nprobe = 2)
    assert(two.count(_._1 == "7") == 5 && !two.exists(r => dead.contains(r._2)))
    // probing only the dead cell: no rows for that query, on both sides
    val one = assertTwin(path, atDead, k = 5, nprobe = 1)
    assert(!one.exists(_._1 == "7") && one.count(_._1 == "8") == 5)
  }

  test("k above the probed cells' live rows returns every live row, like the twin") {
    val path = built("onepass-bigk")
    val rows = assertTwin(path, queries, k = 500, nprobe = 1)
    val perCell = points.groupBy(p => cellOf(p._2)).map { case (c, ps) => c -> ps.size }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val qv = queries.filter(col("query_id") === q.toLong).head().getSeq[Double](1).toArray
      assert(rs.size == perCell(cellOf(qv)), s"query $q")
    }
  }

  test("nprobe = nCells and nprobe above nCells: one pass == the twin") {
    val path = built("onepass-allcells")
    assertTwin(path, queries, k = 10, nprobe = nCells)
    assertTwin(path, queries, k = 10, nprobe = nCells + 3)
  }

  test("int-typed query ids keep their type, like the twin") {
    val path = built("onepass-intqid")
    val qs = queries.select(col("query_id").cast("int").as("query_id"), col("qv"))
    assertTwin(path, qs, k = 5, nprobe = 2)
    assert(onePass(path, qs, 5, 2).schema("query_id").dataType == IntegerType)
  }

  test("warm jobs per search: <= 3 on a compacted index, <= 4 with a log") {
    val path = built("onepass-jobs")
    // a query frame whose collect is a job of its own, as in a served batch
    val served = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.collect().toSeq, 1), queries.schema)
    def search(): Array[Row] = onePass(path, served, 5, 2).collect()
    search()
    val compacted = jobsOf(search())
    assert(compacted <= 3, s"$compacted jobs on a compacted index")
    IvfAdc.upsert(spark, path, frame(points.take(30)), "id", "vec", centers, model)
    IvfAdc.delete(spark, path, Seq(40L, 41L).toDF("id"))
    search()
    val logged = jobsOf(search())
    assert(logged <= 4, s"$logged jobs with a maintenance log")
    info(s"warm jobs: $compacted compacted, $logged with a log")
  }

  test("IvfAdc.scala neither checkpoints nor reads parquet without a declared schema") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/IvfAdc.scala")), "UTF-8")
    assert(!src.contains("localCheckpoint"))
    val reads = """\.read\b[^;]*?\.parquet\(""".r.findAllIn(src).toList
    assert(reads.nonEmpty && reads.forall(_.contains(".schema(")),
      s"parquet reads without a declared schema: $reads")
  }

  test("bad query input fails by name before any scan") {
    val path = built("onepass-badq")
    val v = centers(0)
    val nullVec = Seq((1L, v.toSeq), (2L, null), (3L, v.toSeq)).toDF("query_id", "qv")
    failsWith("query 2", "null vector")(onePass(path, nullVec, 5, 2))
    val narrow = queriesOf(Seq((1L, v), (4L, v.take(d - 1))))
    failsWith("query 4", s"width ${d - 1}", s"width $d")(onePass(path, narrow, 5, 2))
    val nan = queriesOf(Seq((5L, v.updated(3, Double.NaN))))
    failsWith("query 5", "NaN")(onePass(path, nan, 5, 2))
    val nullComponent = Seq((6L, v.toSeq.map(x => x: java.lang.Double).updated(1, null)))
      .toDF("query_id", "qv")
    failsWith("query 6", "null component")(onePass(path, nullComponent, 5, 2))
    val twice = queriesOf(Seq((9L, v), (9L, centers(1))))
    failsWith("query 9", "two different vectors")(onePass(path, twice, 5, 2))
  }

  test("repeated identical query rows collapse; an empty batch runs no job") {
    val path = built("onepass-degenerate")
    val once = queries.limit(3)
    val repeated = once.union(once).union(once)
    // the twin does not collapse them: its probe heap keeps a repeated
    // query's cells once per row, so it probes fewer distinct cells and
    // returns each neighbor once per repeat
    assert(bits(onePass(path, repeated, 5, 2)) == assertTwin(path, once, k = 5, nprobe = 2))
    val empty = Seq.empty[(Long, Seq[Double])].toDF("query_id", "qv")
    // no index read at all: the path does not even exist
    val missing = newPath("onepass-missing")
    var res: DataFrame = null
    val collectJobs = jobsOf { res = onePass(missing, empty, 5, 2) }
    assert(collectJobs <= 1, s"$collectJobs jobs to collect an empty batch")
    val jobs = jobsOf(assert(res.collect().isEmpty))
    assert(jobs == 0, s"$jobs jobs on an empty batch")
    assert(res.schema == onePass(path, queries, 5, 2).schema)
  }

  test("an index row with a null code or a code of the wrong length fails by name") {
    def withRow(name: String, row: Row): String = {
      val path = built(name)
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), IvfAdc.IndexSchema)
        .write.mode("append").partitionBy("cell").parquet(path)
      path
    }
    val nullCode = withRow("onepass-nullcode", Row(9001L, null, 0L, 0))
    failsWith("index row 9001", "null code")(onePass(nullCode, queries, 5, nCells).collect())
    val short = withRow("onepass-shortcode", Row(9002L, Seq[Short](0, 0, 0), 0L, 0))
    failsWith("index row 9002", "length 3")(onePass(short, queries, 5, nCells).collect())
    val range = withRow("onepass-rangecode", Row(9003L, Seq[Short](0, 8, 0, 0), 0L, 0))
    failsWith("index row 9003", "out of range")(onePass(range, queries, 5, nCells).collect())
  }

  /** Footer schema of every data file under `root`, as (name, type). */
  private def footers(root: String): Seq[Seq[(String, String)]] = {
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toList
    assert(files.nonEmpty, s"no parquet files under $root")
    files.map { f =>
      val dir = f.getParent.toString
      spark.read.option("basePath", dir).parquet(f.toString).schema
        .map(x => x.name -> x.dataType.catalogString)
    }
  }

  private def declared(s: StructType): Seq[(String, String)] =
    s.map(x => x.name -> x.dataType.catalogString)

  test("the declared index and tombstone-log schemas equal the writers' footers") {
    val data = declared(IvfAdc.IndexSchema).filterNot(_._1 == "cell")
    val path = built("onepass-footer-build")
    footers(path).foreach(f => assert(f == data))
    // int-typed input ids: build and upsert both write bigint ids
    val intPath = newPath("onepass-footer-int")
    def intFrame(rows: Seq[(Long, Array[Double])]) =
      rows.map { case (i, v) => (i.toInt, v.toSeq) }.toDF("id", "vec")
    IvfAdc.build(spark, intFrame(points.take(300)), "id", "vec", centers, model, intPath)
    IvfAdc.upsert(spark, intPath, intFrame(points.drop(250)), "id", "vec", centers, model)
    IvfAdc.delete(spark, intPath, Seq(1, 2).toDF("id"))
    footers(intPath).foreach(f => assert(f == data))
    val cells = Files.list(Paths.get(intPath)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("cell=")).toList
    assert(cells.nonEmpty && cells.forall(_.stripPrefix("cell=").toIntOption.isDefined))
    footers(intPath + ".log/tombstones").foreach(f => assert(f == declared(IvfIndex.TombstoneSchema)))
    // and the declared read sees every written row
    assert(IvfIndex.loadLive(spark, intPath).count() == points.size - 2)
  }
}
