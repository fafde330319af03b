package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import NativeExpression.{expr, requireNoNullElements}

/** Native prefix dot products over two `array<double>` columns: element j
  * of the result is the dot product of the first `cuts(j)` elements —
  * ONE left-to-right pass emitting the running sum at each cut point.
  *
  * A left fold's prefix IS its partial sum, so `out(j)` is bit-identical
  * to an independent [[DotProduct]] (or `list_dot_product`) over
  * `slice(a, 1, cuts(j))` — the matryoshka sweep's per-width cosines all
  * come out of one pass instead of one sliced sub-plan per width.
  * Cut points must be ascending; positions past min(len(a), len(b))
  * emit the full-length running sum (inputs are fixed-width embedding
  * columns in practice).
  */
case class PrefixDots(left: Expression, right: Expression, cuts: Seq[Int])
    extends NativeBinary {
  override def prettyName: String = "graft_prefix_dots"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override protected def paramRule: String = "ascending positive cuts"
  override protected def paramsValid: Boolean =
    cuts.nonEmpty && cuts == cuts.sorted && cuts.head > 0
  override protected def kernel: String = "dots"
  override protected def params: Seq[Any] = Seq(cuts.toArray)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PrefixDots =
    copy(left = newLeft, right = newRight)
}

object PrefixDots {
  /** The kernel: the running dot product, emitted at each cut. */
  def dots(x: ArrayData, y: ArrayData, cuts: Array[Int]): ArrayData = {
    requireNoNullElements("graft_prefix_dots", "left", x)
    requireNoNullElements("graft_prefix_dots", "right", y)
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](cuts.length)
    var s = 0.0
    var i = 0
    var j = 0
    while (j < cuts.length) {
      val end = math.min(cuts(j), n)
      while (i < end) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      out(j) = s
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(a: Column, b: Column, cuts: Seq[Int]): Column =
    PrefixDots(expr(a), expr(b), cuts).toColumn
}
