package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, ShortType}

import graft.functions._
import graft.operators.{PQModel, ProductQuantizer}

/** Pins the native PQ expressions to [[PQModel]]'s kernel semantics with
  * EXACT double equality (==, no tolerance): local kernel == interpreted
  * `eval` == whole-stage-codegen DataFrame result, and LUT-path ADC ==
  * direct ADC. Any accumulation-order drift between the three execution
  * paths fails here before it can flip an oracle hash.
  */
class PQExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new Random(91)
  private val M = 4
  private val K = 8
  private val DP = 4
  private val D = M * DP

  private val model = PQModel(
    M, K, D,
    Array.fill(M)(Array.fill(K)(Array.fill(DP)(rng.nextDouble() * 2 - 1))))
  private val vecs: Seq[Array[Double]] =
    Seq.fill(40)(Array.fill(D)(rng.nextDouble() * 2 - 1))

  private def vecLit(v: Array[Double]) =
    Literal.create(v.toSeq, ArrayType(DoubleType))
  private def codeLit(c: Array[Short]) =
    Literal.create(c.toSeq, ArrayType(ShortType))
  private val flat = model.flatCodebook

  test("encode: kernel == interpreted eval == codegen, exact") {
    val interp = vecs.map { v =>
      PQEncodeExpr(vecLit(v), flat, M, K, DP)
        .eval(InternalRow.empty).asInstanceOf[ArrayData].toShortArray.toSeq
    }
    val fromDf = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("id", "v")
      .select(col("id"), ProductQuantizer.encodeCol(model, col("v")).as("c"))
      .orderBy("id").collect().map(_.getSeq[Short](1))
    vecs.indices.foreach { i =>
      val kernel = model.encodeVec(vecs(i)).toSeq
      assert(interp(i) == kernel, s"interp row $i")
      assert(fromDf(i) == kernel, s"codegen row $i")
    }
  }

  test("decode: kernel == interpreted eval == codegen, exact") {
    val codes = vecs.map(model.encodeVec)
    val interp = codes.map { c =>
      PQDecodeExpr(codeLit(c), flat, M, K, DP)
        .eval(InternalRow.empty).asInstanceOf[ArrayData].toDoubleArray.toSeq
    }
    val fromDf = codes.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("id", "c")
      .select(col("id"), ProductQuantizer.decodeCol(model, col("c")).as("v"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    codes.indices.foreach { i =>
      val kernel = model.decodeCode(codes(i)).toSeq
      assert(interp(i) == kernel, s"interp row $i")
      assert(fromDf(i) == kernel, s"codegen row $i")
    }
  }

  test("adc: kernel == interpreted == codegen == LUT path, exact bit equality") {
    val q = vecs.head
    val codes = vecs.tail.map(model.encodeVec)
    val lut = model.adcLut(q)
    val interpDirect = codes.map { c =>
      PQAdcExpr(vecLit(q), codeLit(c), flat, M, K, DP)
        .eval(InternalRow.empty).asInstanceOf[Double]
    }
    val interpLut = codes.map { c =>
      PQAdcLutExpr(vecLit(lut), codeLit(c), M, K)
        .eval(InternalRow.empty).asInstanceOf[Double]
    }
    val df = codes.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF("id", "c")
    val direct = df
      .select(col("id"),
        ProductQuantizer.adcCol(model, typedLit(q.toSeq), col("c")).as("d"))
      .orderBy("id").collect().map(_.getDouble(1))
    val viaLut = df
      .select(col("id"),
        ProductQuantizer.adcFromLutCol(
          model,
          ProductQuantizer.lutCol(model, typedLit(q.toSeq)),
          col("c")).as("d"))
      .orderBy("id").collect().map(_.getDouble(1))
    codes.indices.foreach { i =>
      val kernel = model.adc(q, codes(i))
      assert(interpDirect(i) == kernel, s"interp direct row $i")
      assert(interpLut(i) == kernel, s"interp lut row $i")
      assert(direct(i) == kernel, s"codegen direct row $i")
      assert(viaLut(i) == kernel, s"codegen lut row $i")
      assert(model.adcFromLut(lut, codes(i)) == kernel, s"kernel lut row $i")
    }
  }

  test("sdc: kernel == interpreted == codegen, exact") {
    val codes = vecs.map(model.encodeVec)
    val a = codes.head
    val interp = codes.tail.map { b =>
      PQSdcExpr(codeLit(a), codeLit(b), flat, M, K, DP)
        .eval(InternalRow.empty).asInstanceOf[Double]
    }
    val fromDf = codes.tail.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("id", "c")
      .select(col("id"),
        ProductQuantizer.sdcCol(model, typedLit(a.toSeq), col("c")).as("d"))
      .orderBy("id").collect().map(_.getDouble(1))
    codes.tail.indices.foreach { i =>
      val kernel = model.sdc(a, codes.tail(i))
      assert(interp(i) == kernel, s"interp row $i")
      assert(fromDf(i) == kernel, s"codegen row $i")
    }
  }

  test("centroid argmin: kernel == interpreted eval == codegen, exact") {
    val k = 7
    val cents = Array.fill(k)(Array.fill(D)(rng.nextDouble() * 2 - 1))
    val flatC = {
      val out = new Array[Double](k * D)
      cents.zipWithIndex.foreach { case (c, i) =>
        System.arraycopy(c, 0, out, i * D, D) }
      out
    }
    def kernel(v: Array[Double]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      cents.zipWithIndex.foreach { case (c, i) =>
        var s = 0.0
        var j = 0
        while (j < D) { val d = v(j) - c(j); s += d * d; j += 1 }
        if (s < bestD) { bestD = s; best = i }
      }
      best
    }
    val interp = vecs.map { v =>
      ArgminCentroidExpr(vecLit(v), flatC, k, D)
        .eval(InternalRow.empty).asInstanceOf[Int]
    }
    val spark2 = spark
    val fromDf = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("id", "v")
      .select(col("id"),
        graft.operators.KMeans.assignCol(spark2, cents, col("v")).as("c"))
      .orderBy("id").collect().map(_.getInt(1))
    vecs.indices.foreach { i =>
      assert(interp(i) == kernel(vecs(i)), s"interp row $i")
      assert(fromDf(i) == kernel(vecs(i)), s"codegen row $i")
    }
  }

  test("executed plan shows the native expressions in codegen, no UDF node") {
    // parquet-backed (a literal LocalRelation would constant-fold away)
    val emb64 = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val m64 = PQModel(
      8, 4, 64,
      Array.fill(8)(Array.fill(4)(Array.fill(8)(rng.nextDouble()))))
    val plan = emb64
      .select(
        col("vec_id"),
        ProductQuantizer.encodeCol(m64, col("v")).as("c"),
        ProductQuantizer.lutCol(m64, col("v")).as("lut"))
      .select(ProductQuantizer.adcFromLutCol(m64, col("lut"), col("c")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode_native"), plan)
    assert(plan.contains("pq_adc_lut"), plan)
    assert(plan.contains("pq_adc_from_lut"), plan)
    // "*(n)" marks operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [pq_adc_from_lut"), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("token-PQ ADC MaxSim == MaxSim over decoded tokens (compressed late interaction)") {
    // the knn_maxsim_pq kernel: per-query dot-LUT against the token
    // codebook, doc-token dot = 2 lookups + 1 add. Must equal the
    // decode-then-dot formulation up to float reassociation.
    import graft.functions.VectorExpressions.dotFast
    val rng = new scala.util.Random(3)
    val tokD = 16
    val tokModel = PQModel(
      2, 4, tokD,
      Array.tabulate(2)(_ => Array.fill(4)(Array.fill(8)(rng.nextDouble()))))
    val docs = (0L until 50L)
      .map(i => (i, Array.fill(3)(Array.fill(tokD)(rng.nextDouble()))))
      .toDF("doc_id", "dtoks")
    val qs = (0L until 4L)
      .map(i => (i, Array.fill(3)(Array.fill(tokD)(rng.nextDouble()))))
      .toDF("query_id", "qtoks")
    val centsLit = typedLit(tokModel.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val coded = docs.select(
      col("doc_id"),
      transform(col("dtoks"), tok => ProductQuantizer.encodeCol(tokModel, tok))
        .as("dtokcodes"))
    val withLut = qs.select(
      col("query_id"),
      col("qtoks"),
      transform(col("qtoks"), qt =>
        transform(centsLit, (ks, s) =>
          transform(ks, c => dotFast(slice(qt, s * 8 + 1, lit(8)), c))))
        .as("qlut"))
    val lutScore = aggregate(
      col("qlut"), lit(0.0),
      (acc, tl) => acc + array_max(transform(col("dtokcodes"), dc =>
        element_at(element_at(tl, 1), element_at(dc, 1).cast("int") + 1) +
          element_at(element_at(tl, 2), element_at(dc, 2).cast("int") + 1))))
    val decScore = aggregate(
      col("qtoks"), lit(0.0),
      (acc, qt) => acc + array_max(transform(col("dtokcodes"), dc =>
        dotFast(qt, ProductQuantizer.decodeCol(tokModel, dc)))))
    val native = graft.functions.VectorExpressions
      .maxSimAdcFast(col("qlut"), col("dtokcodes"))
    val both = coded.join(withLut)
      .select(
        col("query_id"), col("doc_id"),
        lutScore.as("a"), decScore.as("b"), native.as("c"))
      .collect()
    assert(both.length == 200)
    both.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9, r)
      // the fused native kernel is BIT-identical to the element_at HOF
      assert(r.getDouble(2) == r.getDouble(4), r)
    }
  }

  test("analysis-time type validation rejects wrong-typed inputs") {
    val df = Seq((1, "not a vector")).toDF("id", "s")
    val e = intercept[Exception] {
      df.select(ProductQuantizer.encodeCol(model, col("s"))).collect()
    }
    assert(e.getMessage.contains("pq_encode_native"), e.getMessage)
    val e2 = intercept[Exception] {
      Seq((1, Seq(1.0, 2.0))).toDF("id", "v")
        .select(ProductQuantizer.decodeCol(model, col("v"))).collect()
    }
    assert(e2.getMessage.contains("pq_decode_native"), e2.getMessage)
  }

  test("out-of-range codes fail by name, code = K and -1: interpreted eval and DataFrame") {
    val good = model.encodeVec(vecs.head)
    val q = vecs(1)
    val lut = model.adcLut(q)
    for (bad <- Seq(K, -1)) {
      // subspace 1: not the last, so a missing check reads a neighbour
      // subspace's cell silently instead of running off the array
      val code = good.updated(1, bad.toShort)
      val want = s"code $bad out of range for k=$K (subspace 1)"
      def fails(what: String)(run: => Any): Unit = {
        val e = intercept[Exception](run)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).toList
        assert(msgs.exists(_.contains(want)), s"$what, code $bad: $msgs")
      }
      fails("decode eval")(PQDecodeExpr(codeLit(code), flat, M, K, DP).eval(InternalRow.empty))
      fails("adc eval")(PQAdcExpr(vecLit(q), codeLit(code), flat, M, K, DP).eval(InternalRow.empty))
      fails("sdc eval")(PQSdcExpr(codeLit(good), codeLit(code), flat, M, K, DP).eval(InternalRow.empty))
      fails("adc_from_lut eval")(PQAdcLutExpr(vecLit(lut), codeLit(code), M, K).eval(InternalRow.empty))
      // repartition: keeps the projection off the local-relation fold, in codegen
      val df = Seq((0, code.toSeq)).toDF("id", "c").repartition(1)
      fails("decode DataFrame")(df.select(ProductQuantizer.decodeCol(model, col("c"))).collect())
      fails("adc DataFrame")(
        df.select(ProductQuantizer.adcCol(model, typedLit(q.toSeq), col("c"))).collect())
      fails("sdc DataFrame")(
        df.select(ProductQuantizer.sdcCol(model, typedLit(good.toSeq), col("c"))).collect())
      fails("adc_from_lut DataFrame")(
        df.select(ProductQuantizer.adcFromLutCol(model, typedLit(lut.toSeq), col("c"))).collect())
    }
  }

  test("runtime length validation: wrong-length vector errors, no unsafe read") {
    val df = Seq((1, Seq(1.0, 2.0))).toDF("id", "v") // D=16 expected
    val e = intercept[Exception] {
      df.select(ProductQuantizer.encodeCol(model, col("v"))).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("expected vector of length 16"), msg)
  }
}
