package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import NativeExpression.{expr, requireNoNullElements}

/** Native map-only PQ assignment: for a vector `v` (array<double>) and a
  * FLATTENED codebook `cf` (the K codewords' vectors concatenated in code
  * order — K·len(v) doubles), element m of the result is the nearest
  * codeword of subspace m: `codes[m] = argmin_c Σ_i (v[m·s+i] − cf[c·n +
  * m·s+i])²` with `dists[m]` the winning distance.
  *
  * Replaces the former corpus×K broadcast join + K·nSub-row posexplode +
  * min_by(struct) aggregation — min_by over a struct value has no
  * mutable fixed-width buffer, so it planned as SortAggregate: two full
  * sorts and an exchange of the exploded frame, per PQ consumer. This
  * expression assigns in one map-side pass; the corpus never enters an
  * Exchange for assignment (the [[graft.operators.Similarity]] Lloyd
  * `kmeansAssign` packed-broadcast discipline, taken to codegen).
  *
  * Equivalence: per-subspace distances are the same strict left-to-right
  * IEEE folds as [[SubspaceSqDists]] (== the r17 zip_with/aggregate);
  * the argmin scans codes ascending keeping strict improvements under
  * `java.lang.Double.compare` — exactly min_by's (dist asc, code asc)
  * ordering incl. NaN-greatest semantics.
  */
case class PqAssign(left: Expression, right: Expression, subDim: Int)
    extends NativeBinary {
  override def prettyName: String = "graft_pq_assign"
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("dists", ArrayType(DoubleType, containsNull = false),
      nullable = false)))
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override protected def paramRule: String = "subDim > 0"
  override protected def paramsValid: Boolean = subDim > 0
  override protected def kernel: String = "assign"
  override protected def params: Seq[Any] = Seq(subDim)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssign =
    copy(left = newLeft, right = newRight)
}

object PqAssign {
  /** The kernel: per subspace, the first code with the smallest distance. */
  def assign(v: ArrayData, cf: ArrayData, subDim: Int): InternalRow = {
    requireNoNullElements("graft_pq_assign", "vector", v)
    requireNoNullElements("graft_pq_assign", "codebook", cf)
    val n = v.numElements()
    val k = if (n == 0) 0 else cf.numElements() / n
    val nSub = n / subDim
    val codes = new Array[Int](nSub)
    val dists = new Array[Double](nSub)
    var m = 0
    while (m < nSub) {
      var best = -1
      var bestD = 0.0
      var c = 0
      while (c < k) {
        var s = 0.0
        var i = 0
        while (i < subDim) {
          val d = v.getDouble(m * subDim + i) - cf.getDouble(c * n + m * subDim + i)
          s += d * d
          i += 1
        }
        if (best < 0 || java.lang.Double.compare(s, bestD) < 0) {
          best = c; bestD = s
        }
        c += 1
      }
      codes(m) = best
      dists(m) = bestD
      m += 1
    }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(codes), UnsafeArrayData.fromPrimitiveArray(dists)))
  }

  /** Column-DSL entry point. */
  def of(v: Column, centsFlat: Column, subDim: Int): Column =
    PqAssign(expr(v), expr(centsFlat), subDim).toColumn
}
