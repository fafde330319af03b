package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import NativeExpression.{expr, requireNoNullElements}

/** Native Catalyst dot product over two `array<double>` columns — the
  * custom-`Expression`-with-`doGenCode` path for the one piece of vector
  * math hot enough to matter (SURVEY.md §7.4: every similarity/ANN/IVF
  * operator computes 32-60 of these per row for signatures plus one per
  * candidate pair).
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: higher-order
  * functions are CodegenFallback — interpreted per element, allocating an
  * intermediate array per call. This expression participates in whole-stage
  * codegen: the generated code calls the [[DotProduct.dot]] multiply-add
  * loop directly, with no allocation and an unboxed `double` result.
  *
  * Semantics match the higher-order formulation bit-for-bit on well-formed
  * input (strict left-to-right IEEE summation — the order the DuckDB
  * oracle's `list_dot_product` also uses). A null element throws; on a
  * length mismatch the shorter prefix is used.
  */
case class DotProduct(left: Expression, right: Expression) extends NativeBinary {
  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override protected def kernel: String = "dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The kernel: Σ x[i]·y[i] over the shorter length, left to right. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    requireNoNullElements("graft_dot", "left", x)
    requireNoNullElements("graft_dot", "right", y)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Column-DSL entry point. */
  def of(a: Column, b: Column): Column = DotProduct(expr(a), expr(b)).toColumn
}
