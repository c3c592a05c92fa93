package graft

import org.apache.spark.sql.SparkSession

/** The SQL surface registered by [[GraftExtensions]]. Uses the runtime
  * `register` path: the builder-time `withExtensions` route needs a fresh
  * JVM-wide session, which a shared test JVM cannot guarantee
  * (getOrCreate would silently return the extension-less shared session).
  */
class ExtensionsSpec extends SparkSpec {

  test("graft_l2sq / graft_dot / graft_topk usable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark
      .sql("SELECT graft_l2sq(array(1D,2D,3D), array(4D,5D,6D)) AS d, " +
        "graft_dot(array(1D,2D), array(3D,4D)) AS p")
      .head()
    assert(r.getDouble(0) == 27.0)
    assert(r.getDouble(1) == 11.0)

    spark.sql(
      "SELECT * FROM VALUES (1L, 5.0D, 10L), (1L, 1.0D, 11L), (1L, 3.0D, 12L) " +
        "AS t(g, dist, id)"
    ).createOrReplaceTempView("pairs")
    val tk = spark
      .sql("SELECT g, graft_topk(dist, id, 2) AS tk FROM pairs GROUP BY g")
      .head()
    val entries = tk.getSeq[org.apache.spark.sql.Row](1)
    assert(entries.map(_.getLong(1)) == Seq(11L, 12L))
    assert(entries.map(_.getDouble(0)) == Seq(1.0, 3.0))
  }

  test("graft_topk buffer: NaN orders last, so finite entries displace it") {
    val buf = new graft.functions.TopKBuffer(3)
    buf.add(Double.NaN, 1L)
    Seq((2.0, 9L), (0.5, 7L), (2.0, 4L)).foreach { case (d, i) => buf.add(d, i) }
    assert(buf.sortedEntries.toSeq == Seq((0.5, 7L), (2.0, 4L), (2.0, 9L)))
  }

  test("graft_nfc: decomposed composes, normalized passes through, null-safe") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_nfc('café') AS a, graft_nfc('café') AS b, " +
        "length(graft_nfc('café')) AS la, " +
        "graft_nfc(CAST(NULL AS STRING)) AS n").head()
    assert(r.getString(0) == "café") // composed
    assert(r.getString(1) == "café") // untouched
    assert(r.getInt(2) == 4) // 5 code points -> 4 after composition
    assert(r.isNullAt(3))
    // column API matches SQL registration
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val c = Seq("café").toDF("s")
      .select(graft.functions.NfcNormalizeExpr.nfc(col("s"))).head().getString(0)
    assert(c == "café")
  }

  test("graft_rolling_windows usable from spark.sql; matches the column API") {
    GraftExtensions.register(spark)
    val r = spark
      .sql("SELECT graft_rolling_windows('abcab', 3) AS hs, " +
        "graft_rolling_windows('ab', 3) AS short")
      .head()
    val hs = r.getSeq[Long](0)
    assert(hs.length == 3)
    // equal windows hash equal: 'abc' at 1 vs 'cab' at 3 differ, no dupes
    // here, but the same call through the column API must agree exactly
    import org.apache.spark.sql.functions.lit
    val viaCol = spark.range(1)
      .select(graft.functions.RollingHashWindowsExpr
        .rollingHashWindows(lit("abcab"), 3).as("hs"))
      .head().getSeq[Long](0)
    assert(hs == viaCol)
    assert(r.getSeq[Long](1).isEmpty)
    // w must be a positive literal
    val e = intercept[Exception] {
      spark.sql("SELECT graft_rolling_windows('abc', 0)").collect()
    }
    assert(e.getMessage.contains("graft_rolling_windows"), e.getMessage)
  }

  test("SQL surface: type validation at analysis, ragged truncation, literal k") {
    GraftExtensions.register(spark)
    // numeric element types implicitly cast to array<double>
    val f = spark
      .sql("SELECT graft_l2sq(array(1,2), array(4,6)) AS d, " +
        "graft_dot(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS p")
      .head()
    assert(f.getDouble(0) == 25.0 && f.getDouble(1) == 3.0)
    // ragged pairs truncate at the shorter length (defined semantics)
    val rag = spark
      .sql("SELECT graft_l2sq(array(1D,2D,99D), array(1D,2D)) AS d").head()
    assert(rag.getDouble(0) == 0.0)
    // non-array input: analysis-time error naming the expectation
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_l2sq('oops', array(1D))").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("array"), e1.getMessage)
    // graft_topk: ids/dists implicitly cast from int
    spark.sql(
      "SELECT * FROM VALUES (1, 5, 10), (1, 1, 11) AS t(g, dist, id)"
    ).createOrReplaceTempView("ipairs")
    val tk = spark
      .sql("SELECT graft_topk(dist, id, 1) AS tk FROM ipairs GROUP BY g").head()
    assert(tk.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(11L))
    // k: non-literal, non-positive, and wrong arity all fail fast
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_topk(dist, id, id) FROM ipairs GROUP BY g").collect()
    }
    assert(e2.getMessage.contains("literal"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_topk(dist, id, 0) FROM ipairs GROUP BY g").collect()
    }
    assert(e3.getMessage.contains("positive"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql("SELECT graft_l2sq(array(1D))").collect()
    }
    assert(e4.getMessage.contains("2 arguments"), e4.getMessage)
  }

  test("RewriteVectorKernels swaps zip_with/aggregate for the codegen kernels") {
    import org.apache.spark.sql.functions._
    import graft.functions.{L2SqExpr, DotExpr, VectorFunctions}
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteVectorKernels
    try {
      // parquet-backed input: literal relations constant-fold away before
      // the plan can be inspected
      val emb = graft.queries.Q.t(spark, sf0001, "embeddings")
        .select(VectorFunctions.toDouble(col("embedding")).as("a"))
        .withColumn("b", col("a"))
      val q = emb.select(
        VectorFunctions.l2Sq(col("a"), col("b")).as("d"),
        VectorFunctions.dot(col("a"), col("b")).as("p")
      )
      val optimized = q.queryExecution.optimizedPlan
      val exprs = optimized.expressions.flatMap(_.collect {
        case e: L2SqExpr => e
        case e: DotExpr => e
      })
      assert(exprs.exists(_.isInstanceOf[L2SqExpr]), optimized.treeString)
      assert(exprs.exists(_.isInstanceOf[DotExpr]), optimized.treeString)
      val r = q.head()
      assert(r.getDouble(0) == 0.0 && r.getDouble(1) > 0.0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteVectorKernels)
    }
  }
}
