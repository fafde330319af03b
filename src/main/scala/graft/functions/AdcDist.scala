package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import NativeExpression.expr

/** Native ADC distance: a stored PQ code array `codes` (array<int>,
  * codes[m] = nearest codeword of subspace m) against a query's FLATTENED
  * distance table `qtab` (array<double>, qtab[m·K + c] = the query's
  * squared distance to codeword c of subspace m) → the asymmetric
  * distance Σ_m qtab[m·K + codes[m]], folded in subspace order.
  *
  * Why an Expression: this fold runs once per (query, corpus vector) pair
  * — the innermost loop of the whole PQ search path. The declarative form
  * `aggregate(sequence(0, nSub-1), 0.0, (acc, m) -> acc +
  * element_at(qtab, m*K + element_at(codes, m+1) + 1))` is an interpreted
  * higher-order fold: per pair it allocates the sequence array and a
  * lambda frame per element, and boxes every accumulator step. Identical
  * strict left-to-right IEEE addition in subspace order, so the values
  * (and the oracle's sorted-fold mirror) are bit-for-bit unchanged.
  *
  * Malformed input fails loudly instead of folding a wrong distance: a
  * null code or table entry, a code outside [0, k), or a table shorter
  * than nSub·k throws. `qtab` comes from a `transform(…, x -> x.qdist)`
  * and is therefore typed `containsNull = true`, so nulls cannot be ruled
  * out by the input type.
  */
case class AdcDist(left: Expression, right: Expression, k: Int) extends NativeBinary {
  override def prettyName: String = "graft_adc_dist"
  override def dataType: DataType = DoubleType
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override protected def paramRule: String = "k > 0"
  override protected def paramsValid: Boolean = k > 0
  override protected def kernel: String = "dist"
  override protected def params: Seq[Any] = Seq(k)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDist =
    copy(left = newLeft, right = newRight)
}

object AdcDist {
  /** The kernel: Σ_m qtab[m·k + codes[m]] in subspace order. */
  def dist(codes: ArrayData, qtab: ArrayData, k: Int): Double = {
    val nSub = codes.numElements()
    if (qtab.numElements().toLong < nSub.toLong * k)
      malformed(s"qtab holds ${qtab.numElements()} distances, fewer than " +
        s"nSub·k = ${nSub}·$k")
    var acc = 0.0
    var m = 0
    while (m < nSub) {
      if (codes.isNullAt(m)) malformed(s"null code at subspace $m")
      val c = codes.getInt(m)
      if (c < 0 || c >= k) malformed(s"code $c at subspace $m is outside [0, $k)")
      val i = m * k + c
      if (qtab.isNullAt(i)) malformed(s"null qtab entry $i")
      acc += qtab.getDouble(i)
      m += 1
    }
    acc
  }

  private def malformed(what: String): Nothing =
    throw new IllegalArgumentException(s"graft_adc_dist: $what")

  /** Column-DSL entry point. */
  def of(codes: Column, qtab: Column, k: Int): Column =
    AdcDist(expr(codes), expr(qtab), k).toColumn
}
