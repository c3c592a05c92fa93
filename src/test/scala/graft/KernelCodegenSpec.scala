package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The 13 native kernel expressions under graft.functions: interpreted
  * `eval` == the generated code of `GenerateUnsafeProjection` (no
  * interpreted fallback), with EXACT double equality — compared by bit
  * pattern, so NaN matches NaN and -0.0 does not match 0.0 — on seeded
  * inputs with ragged, empty and NaN arrays and the MaxSim empty-bag
  * NULL. Where eval throws, the generated code must throw the same class
  * with the same message.
  */
class KernelCodegenSpec extends AnyFunSuite {

  private val rng = new Random(2024)

  private def vec(n: Int): Array[Double] = Array.fill(n)(rng.nextDouble() * 2 - 1)
  private def withNaN(v: Array[Double]): Array[Double] = {
    val c = v.clone(); if (c.nonEmpty) c(rng.nextInt(c.length)) = Double.NaN; c
  }

  /** Scala input value to its Catalyst form (nested arrays included). */
  private def catalyst(v: Any): Any = v match {
    case a: Array[Double] => new GenericArrayData(a)
    case a: Array[Int] => new GenericArrayData(a)
    case a: Array[Short] => new GenericArrayData(a)
    case a: Array[_] => new GenericArrayData(a.map(catalyst))
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  /** A result, comparable with == : doubles as canonical bits. */
  private def canon(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: Double, _) => java.lang.Double.doubleToLongBits(d)
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(canon(_, et))
    case (x, _) => x
  }

  private def attempt(f: => Any): Either[(Class[_], String), Any] =
    try Right(f) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  /** `build` over bound inputs of `types`: eval == codegen on every row. */
  private def sweep(types: DataType*)(build: Seq[Expression] => Expression)(
      rows: Seq[Seq[Any]]): Unit = {
    val e = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    val toUnsafe = UnsafeProjection.create(types.toArray)
    val generated = GenerateUnsafeProjection.generate(Seq(e), false)
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (values, r) =>
      val row = toUnsafe(InternalRow.fromSeq(values.map(catalyst))).copy()
      val interp = attempt(canon(e.eval(row), e.dataType))
      val gen = attempt {
        val out = generated(row)
        canon(if (out.isNullAt(0)) null else out.get(0, e.dataType), e.dataType)
      }
      assert(interp == gen, s"${e.prettyName} row $r: eval $interp, codegen $gen")
    }
  }

  private val dv = ArrayType(DoubleType)

  test("l2sq, dot: eval == codegen, exact, ragged/empty/NaN") {
    val pairs: Seq[Seq[Any]] =
      Seq.fill(20)(Seq(vec(8), vec(8))) ++ Seq(
        Seq(vec(3), vec(7)), Seq(vec(7), vec(3)), Seq(vec(0), vec(5)),
        Seq(vec(0), vec(0)), Seq(withNaN(vec(8)), vec(8)),
        Seq(Array(Double.PositiveInfinity, 1.0), Array(Double.PositiveInfinity, 2.0)),
        Seq(Array(-0.0, 0.0), Array(0.0, -0.0)))
    sweep(dv, dv)(c => L2SqExpr(c(0), c(1)))(pairs)
    sweep(dv, dv)(c => DotExpr(c(0), c(1)))(pairs)
  }

  test("bit_sign_dot: eval == codegen, exact, ragged/empty/NaN") {
    def words(n: Int) = Array.fill(n)(rng.nextInt(65536))
    val rows: Seq[Seq[Any]] = Seq.fill(10)(Seq(words(4), vec(64))) ++ Seq(
      Seq(words(1), vec(64)), Seq(words(4), vec(20)), Seq(words(0), vec(10)),
      Seq(words(4), vec(0)), Seq(words(4), withNaN(vec(64))))
    sweep(ArrayType(IntegerType), dv)(c => BitSignDotExpr(c(0), c(1)))(rows)
  }

  test("maxsim, maxsim_adc: eval == codegen, exact, ragged/empty bags/NaN/NULL") {
    def bag(n: Int, d: => Int) = Array.fill(n)(vec(d))
    val bags: Seq[Seq[Any]] =
      Seq.fill(10)(Seq(bag(3, 6), bag(4, 6))) ++ Seq(
        Seq(bag(2, 6), bag(3, 2 + rng.nextInt(6))), // ragged tokens
        Seq(bag(0, 6), bag(3, 6)), // empty left: 0.0
        Seq(bag(2, 6), bag(0, 6)), // empty right: NULL
        Seq(bag(0, 6), bag(0, 6)),
        Seq(bag(2, 6), Array(withNaN(vec(6)), vec(6))),
        Seq(Array(withNaN(vec(6))), bag(2, 6)))
    sweep(ArrayType(dv), ArrayType(dv))(c => MaxSimExpr(c(0), c(1)))(bags)

    val s = 3
    val k = 5
    def luts(n: Int) = Array.fill(n)(Array.fill(s)(vec(k)))
    def codes(n: Int, width: Int = s) =
      Array.fill(n)(Array.fill(width)(rng.nextInt(k).toShort))
    val adc: Seq[Seq[Any]] =
      Seq.fill(10)(Seq(luts(3), codes(4))) ++ Seq(
        Seq(luts(2), codes(3, s - 1)), // ragged subspaces
        Seq(luts(0), codes(2)), Seq(luts(2), codes(0)), Seq(luts(0), codes(0)),
        Seq(Array(Array(withNaN(vec(k)), vec(k), vec(k))), codes(3)),
        Seq(luts(1), Array(Array[Short](0, k.toShort, 0)))) // out of range: named error
    sweep(ArrayType(ArrayType(dv)), ArrayType(ArrayType(ShortType)))(c =>
      MaxSimAdcExpr(c(0), c(1)))(adc)
  }

  test("PQ encode/decode/adc/sdc/lut/adc_from_lut: eval == codegen, exact, NaN and bad lengths") {
    val (m, k, dp) = (4, 8, 4)
    val flat = vec(m * k * dp)
    def code(n: Int = m) = Array.fill(n)(rng.nextInt(k).toShort)
    val vecs: Seq[Array[Double]] =
      Seq.fill(12)(vec(m * dp)) ++ Seq(withNaN(vec(m * dp)), vec(m * dp - 1), vec(0))
    val codes: Seq[Array[Short]] = Seq.fill(12)(code()) ++ Seq(code(m - 1), code(0))
    val cv = ArrayType(ShortType)
    sweep(dv)(c => PQEncodeExpr(c(0), flat, m, k, dp))(vecs.map(Seq(_)))
    sweep(dv)(c => PQLutExpr(c(0), flat, m, k, dp))(vecs.map(Seq(_)))
    sweep(cv)(c => PQDecodeExpr(c(0), flat, m, k, dp))(codes.map(Seq(_)))
    sweep(dv, cv)(c => PQAdcExpr(c(0), c(1), flat, m, k, dp))(
      vecs.zip(codes.reverse).map { case (v, c) => Seq(v, c) })
    sweep(cv, cv)(c => PQSdcExpr(c(0), c(1), flat, m, k, dp))(
      codes.zip(codes.reverse).map { case (a, b) => Seq(a, b) })
    val lutRows: Seq[Array[Double]] =
      Seq.fill(12)(vec(m * k)) ++ Seq(withNaN(vec(m * k)), vec(m * k + 1))
    sweep(dv, cv)(c => PQAdcLutExpr(c(0), c(1), m, k))(
      lutRows.zip(codes).map { case (l, c) => Seq(l, c) })
  }

  test("centroid_argmin, rolling_hash_windows: eval == codegen, exact") {
    val (k, d) = (7, 16)
    val flat = vec(k * d)
    val vecs = Seq.fill(15)(vec(d)) ++ Seq(withNaN(vec(d)), vec(d + 1), vec(0))
    sweep(dv)(c => ArgminCentroidExpr(c(0), flat, k, d))(vecs.map(Seq(_)))

    val texts = Seq("", "abcd", "abcde", "näive café 😀😀 x") ++
      Seq.fill(8)(Seq.fill(10 + rng.nextInt(50))(Seq("a", "b", "é", "😀")(rng.nextInt(4))).mkString)
    for (w <- Seq(1, 5))
      sweep(StringType)(c => RollingHashWindowsExpr(c(0), w))(texts.map(Seq(_)))
  }

  test("no doGenCode under graft/functions holds a loop: it calls the eval kernel") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/functions")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val loop = """\b(for|while) *\(""".r
    val bodies = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      i <- lines.indices if lines(i).contains("def doGenCode")
    } yield s"${f.getFileName}:${i + 1}" -> (lines(i) +: lines.drop(i + 1)
      .takeWhile(l => l.trim.isEmpty || indent(l) > indent(lines(i)))).mkString("\n")
    assert(bodies.length >= 13, s"found only ${bodies.map(_._1)}")
    val offenders = bodies.collect { case (at, b) if loop.findFirstIn(b).nonEmpty => at }
    assert(offenders.isEmpty, s"loop in doGenCode at $offenders: call the kernel eval runs")
  }
}
