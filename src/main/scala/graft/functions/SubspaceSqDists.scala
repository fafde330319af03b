package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import NativeExpression.{expr, requireNoNullElements}

/** Native per-subspace squared-L2 distances over two `array<double>`
  * columns cut into `subDim`-wide subspaces — the PQ hot loop
  * ([[graft.operators.Similarity]]: every (vector, codeword) pair
  * computes [[graft.operators.Similarity.PqSubspaces]] of these).
  *
  * Replaces the interpreted
  * `aggregate(zip_with(slice(v,…), slice(cv,…), (x,y) ⇒ (x−y)²), 0.0, _+_)`
  * per subspace: higher-order functions are CodegenFallback (allocating
  * two slices plus a zipped array per subspace per pair), while this
  * expression participates in whole-stage codegen as one kernel call.
  *
  * Semantics match the higher-order formulation bit-for-bit: element m of
  * the result is the strict left-to-right IEEE fold of (x−y)·(x−y) over
  * elements [m·subDim, (m+1)·subDim) — the order the DuckDB oracle's
  * mirrored fold uses. A null element throws; subspace count =
  * min(len(a), len(b)) / subDim (equal 64-dim inputs in practice).
  */
case class SubspaceSqDists(left: Expression, right: Expression, subDim: Int)
    extends NativeBinary {
  override def prettyName: String = "graft_subspace_sq_dists"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override protected def paramRule: String = "subDim > 0"
  override protected def paramsValid: Boolean = subDim > 0
  override protected def kernel: String = "dists"
  override protected def params: Seq[Any] = Seq(subDim)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubspaceSqDists =
    copy(left = newLeft, right = newRight)
}

object SubspaceSqDists {
  /** The kernel: one squared-L2 fold per whole subspace. */
  def dists(x: ArrayData, y: ArrayData, subDim: Int): ArrayData = {
    requireNoNullElements("graft_subspace_sq_dists", "left", x)
    requireNoNullElements("graft_subspace_sq_dists", "right", y)
    val nSub = math.min(x.numElements(), y.numElements()) / subDim
    val out = new Array[Double](nSub)
    var m = 0
    while (m < nSub) {
      var s = 0.0
      var i = m * subDim
      val end = i + subDim
      while (i < end) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
        i += 1
      }
      out(m) = s
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(a: Column, b: Column, subDim: Int): Column =
    SubspaceSqDists(expr(a), expr(b), subDim).toColumn
}
