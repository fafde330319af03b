package graft.functions

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every native expression evaluates alike in generated code
  * (`GenerateUnsafeProjection`) and interpreted (`InterpretedUnsafeProjection`)
  * on generated adversarial rows: null inputs, null array elements,
  * empty, whitespace-only and invalid UTF-8 text, text carrying the BPE
  * sentinel bytes, and one document of more than 1 MB. An input that
  * makes a kernel throw must make it throw the same way on both paths;
  * an array kernel must throw on a null element.
  * Doubles compare bit for bit, except that all NaNs are one value: Java
  * leaves a NaN's sign and payload unspecified, and JIT-compiled code may
  * propagate a different NaN operand than the bytecode interpreter. */
class NativeCodegenDiffSpec extends AnyFunSuite with Matchers {

  private val Samples = 150

  /** Catalyst values of one generated row, one per child. */
  private type Values = Seq[Any]

  private def sample[T](g: Gen[T], seed: Long): Seq[T] =
    (0 until Samples).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 12 -> g)

  // ---- text --------------------------------------------------------------

  private val vocab = Seq("a", "bb", "ccc", "døc", "é", "京", "🚀", "", "the", "x\u0001y",
    "\u0002\u0001", "\u0001tok\u0002")

  private val tokenText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    seps <- Gen.listOfN(n, Gen.frequency(8 -> " ", 1 -> "  ", 1 -> "\t", 1 -> "\n"))
  } yield toks.zip(seps).map { case (t, s) => t + s }.mkString

  /** A sentinel-wrapped BPE stream, sometimes with stray sentinels inside
    * a token (which the BPE contract rules out, but both paths must still
    * agree on). */
  private val bpeStream: Gen[String] = for {
    toks <- Gen.listOf(Gen.oneOf(vocab))
  } yield toks.map(t => "\u0001" + t + "\u0002").mkString

  private val invalidUtf8: Gen[UTF8String] =
    Gen.listOf(Gen.choose(0, 255).map(_.toByte)).map(bs => UTF8String.fromBytes(bs.toArray))

  private val text: Gen[Any] = orNull(Gen.frequency(
    6 -> tokenText.map(UTF8String.fromString),
    2 -> bpeStream.map(UTF8String.fromString),
    2 -> invalidUtf8,
    1 -> Gen.oneOf("", " ", "   ", "\t \n", "　").map(UTF8String.fromString)))

  /** One document over 1 MB: repeated prose with occasional unique tokens. */
  private lazy val bigDoc: UTF8String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (sb.length < (1 << 20) + 1000) {
      sb.append(vocab(i % vocab.size)).append(' ')
      if (i % 97 == 0) sb.append("w").append(i).append(' ')
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // ---- arrays ------------------------------------------------------------

  private val double: Gen[Any] = Gen.frequency(
    12 -> Gen.choose(-2.0, 2.0),
    1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.MinPositiveValue),
    1 -> Gen.const(null))

  private def array(elem: Gen[Any], len: Gen[Int]): Gen[Any] =
    orNull(len.flatMap(n => Gen.listOfN(n, elem)).map(xs => new GenericArrayData(xs.toArray)))

  private val doubles: Gen[Any] = array(double, Gen.frequency(
    4 -> Gen.const(64), 1 -> Gen.choose(0, 80)))

  private val longs: Gen[Any] = array(
    Gen.frequency(12 -> Gen.choose(0L, 50L), 1 -> Gen.const(null)), Gen.choose(0, 40))

  private val sortedLongs: Gen[Any] = orNull(Gen.listOf(Gen.choose(0L, 60L))
    .map(xs => new GenericArrayData(xs.distinct.sorted.toArray[Any])))

  private val tokens: Gen[Any] = array(
    Gen.frequency(12 -> Gen.oneOf(vocab).map(UTF8String.fromString), 1 -> Gen.const(null)),
    Gen.choose(0, 30))

  // ---- the harness -------------------------------------------------------

  /** A comparable form of a Catalyst value: doubles as their bits, NaN as
    * one value, strings as their bytes. */
  private def canon(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: Double, _) => if (d.isNaN) "NaN" else java.lang.Double.doubleToRawLongBits(d)
    case (s: UTF8String, _) => s.getBytes.toSeq
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => canon(if (a.isNullAt(i)) null else a.get(i, et), et))
    case (r: InternalRow, st: StructType) => st.fields.indices.map(i =>
      canon(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType))
    case (other, _) => other
  }

  private def outcome(p: UnsafeProjection, row: InternalRow, t: DataType): Either[String, Any] =
    Try(canon(p(row).get(0, t), t)).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  /** Whether a row holds an array with a null element. */
  private def nullElement(values: Values): Boolean = !values.contains(null) && values.exists {
    case a: ArrayData => (0 until a.numElements()).exists(a.isNullAt)
    case _ => false
  }

  /** Builds `make` over bound references of `types`, checks its input
    * types, and compares both evaluation paths on every row. With
    * `nullElementsThrow`, a row holding a null array element must fail
    * with the kernel's `IllegalArgumentException` on both paths. */
  private def check(types: Seq[DataType], rows: Seq[Values], nullElementsThrow: Boolean = false)(
      make: Seq[Expression] => Expression): Unit = {
    val e = make(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    e.checkInputDataTypes() shouldBe TypeCheckResult.TypeCheckSuccess
    val toInput = UnsafeProjection.create(types.toArray)
    val codegen = GenerateUnsafeProjection.generate(Seq(e))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
    rows.foreach { values =>
      val row = toInput(new GenericInternalRow(values.toArray)).copy()
      withClue(s"${e.prettyName} on ${values.map(v => String.valueOf(v).take(60))}: ") {
        val got = outcome(codegen, row, e.dataType)
        got shouldBe outcome(interpreted, row, e.dataType)
        if (nullElementsThrow && nullElement(values))
          got.left.toOption.getOrElse("") should startWith(
            s"java.lang.IllegalArgumentException: ${e.prettyName}: null element")
      }
    }
  }

  private def unaryText(make: Expression => Expression): Unit =
    check(Seq(StringType), sample(text, 1).map(Seq(_)) :+ Seq(bigDoc))(es => make(es.head))

  private val arrD = ArrayType(DoubleType)
  private val arrL = ArrayType(LongType)
  private val arrS = ArrayType(StringType)

  // ---- one case per expression ------------------------------------------

  test("GramCounts, single-space and BPE-sentinel separators") {
    unaryText(GramCounts(_, 2))
    unaryText(GramCounts(_, 5))
    unaryText(GramCounts(_, 2, "\u0002\u0001"))
  }

  test("HashEmbed") { unaryText(HashEmbed(_, 64)) }

  test("ClfStats") {
    unaryText(ClfStats(_, graft.operators.TextAnalysis.ClfWeightTenths.toIndexedSeq))
  }

  test("DsirBucketCounts") { unaryText(DsirBucketCounts(_, 97)) }

  test("SpanGramHashes") { unaryText(SpanGramHashes(_, 3)) }

  test("CharCounts") { unaryText(CharCounts(_)) }

  test("DeflateLength") { unaryText(DeflateLength(_)) }

  test("HashedShingles") {
    unaryText(HashedShingles(_, 1))
    unaryText(HashedShingles(_, 5))
  }

  test("BoundedLevenshtein") {
    val pair: Gen[Values] = for {
      a <- text
      edit <- Gen.oneOf(true, false)
      b <- if (edit && a != null) Gen.choose(0, 4).map(n => UTF8String.fromString(
        a.toString.drop(n) + "x" * n)) else text
    } yield Seq(a, b)
    val big = UTF8String.fromString(bigDoc.toString.patch(1000, "zz", 3))
    check(Seq(StringType, StringType), sample(pair, 2) :+ Seq(bigDoc, big) :+ Seq(bigDoc, bigDoc))(
      es => BoundedLevenshtein(es(0), es(1), 3))
  }

  test("BlockHashes") {
    val payload = orNull(Gen.listOf(Gen.choose(0, 255).map(_.toByte)).map(_.toArray))
    check(Seq(BinaryType), sample(payload, 3).map(Seq(_)) :+ Seq(bigDoc.getBytes))(
      es => BlockHashes(es.head, 32, graft.operators.Dedup.P))
  }

  test("DotProduct") {
    check(Seq(arrD, arrD), sample(Gen.listOfN(2, doubles), 4), nullElementsThrow = true)(
      es => DotProduct(es(0), es(1)))
  }

  test("SubspaceSqDists") {
    check(Seq(arrD, arrD), sample(Gen.listOfN(2, doubles), 5), nullElementsThrow = true)(
      es => SubspaceSqDists(es(0), es(1), 8))
  }

  test("PrefixDots") {
    check(Seq(arrD, arrD), sample(Gen.listOfN(2, doubles), 6), nullElementsThrow = true)(
      es => PrefixDots(es(0), es(1), Seq(1, 3, 8, 32, 64, 100)))
  }

  test("SignBands") {
    val planes = IndexedSeq.tabulate(16, 64)((j, i) => math.sin(j * 64 + i + 1.0))
    check(Seq(arrD), sample(doubles, 7).map(Seq(_)), nullElementsThrow = true)(
      es => SignBands(es.head, planes, 4))
  }

  test("PqAssign") {
    val codebook = array(double, Gen.oneOf(0, 64, 16 * 64, 16 * 64 - 3))
    check(Seq(arrD, arrD), sample(for (v <- doubles; cf <- codebook) yield Seq(v, cf), 8),
      nullElementsThrow = true)(es => PqAssign(es(0), es(1), 8))
  }

  test("AdcDist, malformed rows included") {
    val k = 4
    val codes = array(Gen.frequency(12 -> Gen.choose(0, k - 1), 1 -> Gen.oneOf(-1, k),
      1 -> Gen.const(null)), Gen.choose(0, 8))
    val qtab = array(double, Gen.frequency(6 -> Gen.const(8 * k), 1 -> Gen.choose(0, 8 * k)))
    check(Seq(ArrayType(IntegerType), arrD),
      sample(for (c <- codes; q <- qtab) yield Seq(c, q), 9))(es => AdcDist(es(0), es(1), k))
  }

  test("MinHashSignatures") {
    check(Seq(arrL), sample(longs, 10).map(Seq(_)))(es => MinHashSignatures(es.head))
  }

  test("SigAgreement") {
    check(Seq(arrL, arrL), sample(Gen.listOfN(2, longs), 11))(es => SigAgreement(es(0), es(1)))
  }

  test("SortedIntersectCount") {
    check(Seq(arrL, arrL), sample(Gen.listOfN(2, sortedLongs), 12))(
      es => SortedIntersectCount(es(0), es(1)))
  }

  test("RepetitionStats") {
    check(Seq(arrS), sample(tokens, 13).map(Seq(_)), nullElementsThrow = true)(
      es => RepetitionStats(es.head))
  }

  test("SimHash60") {
    check(Seq(arrS), sample(tokens, 14).map(Seq(_)), nullElementsThrow = true)(
      es => SimHash60(es.head))
  }
}
