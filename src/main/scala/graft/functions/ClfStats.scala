package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Native hashed-bag-of-words classifier statistics: a (lowercased)
  * document string → struct(n_tokens long, sum_twi long) where each
  * single-space token hashes through the portable md5 family
  * (h32 = first 8 hex chars of md5 as int64, the
  * [[graft.operators.Dedup]].h32 / [[MinHashSeeds.h32]] value) into one
  * of `weights.length` buckets and `sum_twi` is the exact integer sum of
  * the selected weights (tenths).
  *
  * Why an Expression: the serving pass of the linear quality gate is a
  * PER-ROW pure function — the explode + groupBy(doc_id) formulation
  * pays a hash aggregate over O(tokens) rows and an Exchange of every
  * (doc, weight) pair to recompute what each row already determines.
  * This folds the whole document in one pass (md5 per token is inherent —
  * it IS the portable hash both engines share) and the downstream logit
  * arithmetic is unchanged, so the serving plan becomes map-only (the
  * [[MinHashSignatures]] discipline). Tokenization is Java
  * `split(" ", -1)` ≡ Spark `split(text, " ")` — empty tokens from space
  * runs included, and the minimum token count is 1 (the empty string
  * hashes like any other). Values are exact integers, so every DuckDB
  * oracle (explode + GROUP BY mirror) is unchanged.
  *
  * `weights` is an immutable sequence, so two expressions over equal
  * weights are equal and canonicalise alike (an array field would compare
  * by reference and defeat common-subexpression elimination); the kernel
  * reads an `int[]` copy, made once when the kernel is bound.
  */
case class ClfStats(child: Expression, weights: IndexedSeq[Int]) extends NativeUnary {
  override def prettyName: String = "graft_clf_stats"
  override def dataType: DataType = ClfStats.Out
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def paramRule: String = "non-empty weights"
  override protected def paramsValid: Boolean = weights.nonEmpty
  override protected def kernel: String = "ofText"
  override protected def params: Seq[Any] = Seq(weights.toArray)

  override protected def withNewChildInternal(newChild: Expression): ClfStats =
    copy(child = newChild)
}

object ClfStats {
  val Out: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_twi", LongType, nullable = false)))

  /** The kernel: one byte scan over the document,
    * md5 per token over its byte range directly (no per-token string). */
  def ofText(text: UTF8String, weights: Array[Int]): InternalRow = {
    val b = text.getBytes
    val len = b.length
    val dim = weights.length
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var nToks = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        md.update(b, start, i - start)
        val d = md.digest()
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        sum += weights((h % dim).toInt)
        nToks += 1L
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nToks, sum))
  }

  /** Column-DSL entry point. */
  def of(text: Column, weights: Seq[Int]): Column =
    ClfStats(expr(text), weights.toIndexedSeq).toColumn
}
