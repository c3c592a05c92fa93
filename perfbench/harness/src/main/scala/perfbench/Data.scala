package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed,
  * table, row), so one seed always yields the same files whatever the
  * partitioning.
  */
object Data extends Serializable {

  /** A per-row random stream: independent of partitioning and of the
    * order in which rows are generated.
    */
  def rng(seed: Long, stream: Long, row: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + row))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  // timestamps are written without a zone, as the test tables' are
  // (parquet TIMESTAMP(MICROS) not adjusted to UTC)
  private val epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val day = 86400000000L // micros

  /** Row counts of the sf0.1 test tables, which these tables mirror in
    * schema, size and value ranges (FIXTURES.md §2).
    */
  val sf01Rows: Seq[(String, Int)] = Seq(
    "region" -> 5, "nation" -> 25, "customer" -> 15000, "supplier" -> 1000,
    "part" -> 20000, "orders" -> 150000, "lineitem" -> 600000,
    "events" -> 100000, "embeddings" -> 2000, "documents" -> 5000)

  val vocabulary: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Rows of table `name` at `scale` times sf0.1; region and nation keep
    * their fixed size.
    */
  def rows(name: String, scale: Double): Int = {
    val n = sf01Rows.find(_._1 == name).get._2
    if (n <= 25) n else math.max(10, (n * scale).toInt)
  }

  /** Writes the ten test tables at `scale`, each as one single-file
    * parquet directory `<dir>/<name>.parquet` (one row group, like the
    * sf0.1 tables).
    */
  def writeTables(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    // one thread per table: each write is one small job, mostly fixed cost
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      sf01Rows.zipWithIndex.map { case ((name, _), stream) =>
        pool.submit { () =>
          val n = rows(name, scale)
          val (schema, gen) = table(name, seed, stream.toLong)
          val rdd = spark.sparkContext
            .parallelize(0L until n.toLong, math.max(1, n / 50000))
            .map(gen)
          spark.createDataFrame(rdd, schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
          name
        }
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def table(name: String, seed: Long, stream: Long)
      : (StructType, Long => Row) = {
    def s(fields: (String, DataType)*) =
      StructType(fields.map { case (f, t) => StructField(f, t) })
    name match {
      case "region" =>
        val names = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        (s("r_regionkey" -> IntegerType, "r_name" -> StringType),
          i => Row(i.toInt, names(i.toInt)))
      case "nation" =>
        (s("n_nationkey" -> IntegerType, "n_name" -> StringType,
          "n_regionkey" -> IntegerType),
          i => Row(i.toInt, s"NATION_$i", (i % 5).toInt))
      case "customer" =>
        val segs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
        (s("c_custkey" -> LongType, "c_name" -> StringType,
          "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
          "c_mktsegment" -> StringType),
          i => {
            val r = rng(seed, stream, i)
            Row(i, f"Customer#$i%09d", r.nextInt(25),
              r2(r.nextDouble(-999.99, 9999.99)), segs(r.nextInt(5)))
          })
      case "supplier" =>
        (s("s_suppkey" -> LongType, "s_name" -> StringType,
          "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
          i => {
            val r = rng(seed, stream, i)
            Row(i, f"Supplier#$i%09d", r.nextInt(25),
              r2(r.nextDouble(-999.99, 9999.99)))
          })
      case "part" =>
        val adj = Array("large", "hot", "blue", "old", "cold", "small", "red", "new")
        val noun = Array("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
        val types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
        (s("p_partkey" -> LongType, "p_name" -> StringType,
          "p_brand" -> StringType, "p_type" -> StringType,
          "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
          i => {
            val r = rng(seed, stream, i)
            Row(i, adj(r.nextInt(8)) + " " + noun(r.nextInt(8)),
              s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)),
              1 + r.nextInt(50), r2(900.0 + (i % 1000) * 0.1))
          })
      case "orders" =>
        val st = Array("O", "P", "F")
        val pri = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        (s("o_orderkey" -> LongType, "o_custkey" -> LongType,
          "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
          "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
          i => {
            val r = rng(seed, stream, i)
            Row(i, r.nextLong(15000), st(r.nextInt(3)),
              r2(r.nextDouble(1000.0, 500000.0)),
              epoch1995.plusDays(r.nextLong(2404)), pri(r.nextInt(5)))
          })
      case "lineitem" =>
        val rf = Array("A", "N", "R")
        val ls = Array("O", "F")
        (s("l_orderkey" -> LongType, "l_partkey" -> LongType,
          "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
          "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampNTZType),
          i => {
            val r = rng(seed, stream, i)
            Row(r.nextLong(150000), r.nextLong(20000), r.nextLong(1000),
              1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
              r2(r.nextDouble(900.0, 105000.0)), r.nextInt(11) / 100.0,
              r.nextInt(9) / 100.0, rf(r.nextInt(3)), ls(r.nextInt(2)),
              epoch1995.plusDays(1 + r.nextLong(2498)))
          })
      case "events" =>
        val kinds = Array("click", "error", "purchase", "signup", "view")
        // 30 days over 100k events: the event id orders the timestamps
        val span = 30L * day / 100000L // mean gap, micros
        (s("event_id" -> LongType, "ts" -> TimestampNTZType,
          "user_id" -> LongType, "event_type" -> StringType,
          "value" -> DoubleType, "props" -> StringType),
          i => {
            val r = rng(seed, stream, i)
            val micros = i * span + r.nextLong(span)
            Row(i, epoch2024.plusNanos(micros * 1000L), r.nextLong(1500), kinds(r.nextInt(5)),
              r2(-50.0 * math.log(1.0 - r.nextDouble())),
              s"""{"k": ${r.nextInt(100)}}""")
          })
      case "embeddings" =>
        val centers = Array.tabulate(10)(c => gaussian(rng(seed, stream + 1000, c), 64))
        (s("vec_id" -> LongType,
          "embedding" -> ArrayType(FloatType),
          "label" -> IntegerType),
          i => {
            val r = rng(seed, stream, i)
            val label = r.nextInt(10)
            val v = centers(label).zip(gaussian(r, 64)).map { case (c, e) => c + 1.2 * e }
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
          })
      case "documents" =>
        val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
          "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
        def text(j: Long): String = {
          val r = rng(seed, stream + 2000, j)
          Seq.fill(10 + r.nextInt(91))(vocabulary(r.nextInt(vocabulary.length))).mkString(" ")
        }
        (s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
          "source" -> StringType, "n_chars" -> LongType),
          i => {
            val r = rng(seed, stream, i)
            // ~5% near-duplicates (an earlier document plus a marker word)
            // and ~0.2% exact duplicates, as in the test tables' documents
            val u = r.nextDouble()
            val t =
              if (i > 0 && u < 0.05) text(r.nextLong(i)) + " dup"
              else if (i > 0 && u < 0.052) text(r.nextLong(i))
              else text(i)
            Row(i, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
          })
    }
  }

  def gaussian(r: SplittableRandom, d: Int): Array[Double] =
    Array.fill(d) {
      // Box-Muller; 1 - u keeps the log argument in (0, 1]
      val u = 1.0 - r.nextDouble()
      val v = r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
    }

  /** Gaussian mixture in D dimensions with the low intrinsic dimension of
    * real embeddings: `clusters` seeded centres in a `latent`-dimensional
    * space with unit spread, points drawn around a centre with spread
    * `sigma`, mapped to D dimensions by one seeded linear map, plus
    * isotropic noise `noise`.
    */
  final class Mixture(seed: Long, val d: Int, val clusters: Int, val sigma: Double,
      val latent: Int = 16, val noise: Double = 0.05) extends Serializable {
    private val centers = Array.tabulate(clusters)(c => gaussian(rng(seed, 7001, c), latent))
    private val map = Array.tabulate(d)(j => gaussian(rng(seed, 7002, j), latent)
      .map(_ / math.sqrt(latent.toDouble)))
    def point(stream: Long, i: Long): Array[Double] =
      pointIn(stream, i, rng(seed, stream, i).nextInt(clusters))
    def pointIn(stream: Long, i: Long, cluster: Int): Array[Double] = {
      val r = rng(seed, stream + (1L << 32), i) // independent of the cluster draw
      val c = centers(cluster)
      val e = gaussian(r, latent)
      val z = Array.tabulate(latent)(k => c(k) + sigma * e(k))
      val n = gaussian(r, d)
      Array.tabulate(d) { j =>
        var x = 0.0
        var k = 0
        while (k < latent) { x += map(j)(k) * z(k); k += 1 }
        x + noise * n(j)
      }
    }
    private lazy val mapped = centers.map(c => Array.tabulate(d)(j =>
      (0 until latent).map(k => map(j)(k) * c(k)).sum))
    /** The cluster whose mapped centre lies nearest a point. */
    def nearest(v: Array[Double]): Int =
      mapped.indices.minBy(c => graft.operators.KMeansLocal.l2Sq(v, mapped(c)))
  }
}
