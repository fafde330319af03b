package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import NativeExpression.{expr, requireNoNullElements}

/** All sign-LSH band keys of a vector in ONE native expression: project
  * the `array<double>` child onto every row of a static hyperplane
  * matrix and pack the sign bits into `planes.length / bitsPerBand`
  * band ints (plane j contributes bit `j % bitsPerBand` of band
  * `j / bitsPerBand`, set iff `v·plane_j >= 0` — bit-identical to the
  * when/sum composition it replaces).
  *
  * Why an expression and not 32 [[DotProduct]]s in a when-tree (the r1
  * formulation): the composed form is ~13 KB of generated bytecode for
  * ONE projection, and `InferFiltersFromGenerate` + alias inlining then
  * DUPLICATES the whole tree into a `size(...) > 0` Filter under the
  * band explode — the consume method lands far past HotSpot's
  * 8000-bytecode `DontCompileHugeMethods` limit, the stage silently
  * runs in the bytecode interpreter, and the 200k-vector sf10 corpus
  * paid 52 s for ~400 MFLOP of work (r17 scratch profile; the identical
  * plan under the JIT runs in ~1 s). Here the generated code is one call
  * of the [[SignBands.bands]] kernel whatever the plane count, and the
  * kernel is compiled by the JIT on its own, so the inferred-filter
  * duplication is immaterial.
  *
  * The plane matrix reaches the kernel as a codegen reference object
  * (2 KB of static doubles), not as literal AST — the tree stays small
  * for the optimizer too. `planes` is an immutable sequence, so two
  * expressions over equal planes are equal and canonicalise alike, as
  * [[ClfStats]]'s weights do; the kernel reads one `double[][]` copy. A
  * null vector element throws. */
case class SignBands(child: Expression, planes: IndexedSeq[IndexedSeq[Double]],
                     bitsPerBand: Int) extends NativeUnary {
  override def prettyName: String = "graft_sign_bands"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override protected def paramRule: String =
    "a plane count that is a positive multiple of bitsPerBand > 0"
  override protected def paramsValid: Boolean =
    bitsPerBand > 0 && planes.nonEmpty && planes.length % bitsPerBand == 0
  override protected def kernel: String = "bands"
  override protected def params: Seq[Any] = Seq(planeArray, bitsPerBand)
  @transient private lazy val planeArray: Array[Array[Double]] = planes.map(_.toArray).toArray

  override protected def withNewChildInternal(newChild: Expression): SignBands =
    copy(child = newChild)
}

object SignBands {
  /** The kernel: one sign bit per plane, packed `bitsPerBand` to a band. */
  def bands(v: ArrayData, planes: Array[Array[Double]], bitsPerBand: Int): ArrayData = {
    requireNoNullElements("graft_sign_bands", "vector", v)
    val out = new Array[Int](planes.length / bitsPerBand)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val n = math.min(v.numElements(), p.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * p(i); i += 1 }
      if (s >= 0) out(j / bitsPerBand) |= 1 << (j % bitsPerBand)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(v: Column, planes: Array[Array[Double]], bitsPerBand: Int): Column =
    SignBands(expr(v), planes.map(_.toIndexedSeq).toIndexedSeq, bitsPerBand).toColumn
}
