package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Native positional word-n-gram hashes: a document string → `array<long>`
  * where element i is `h32` (md5 first 4 bytes, big-endian unsigned — the
  * portable [[MinHashSeeds.h32]] family) of the n-gram starting at token
  * position i; the empty array when the document has fewer than `n`
  * tokens. Position order IS the array index — the span-dedup family
  * (`posexplode`) depends on it.
  *
  * Why an Expression: the declarative
  * `posexplode(transform(sequence(0, n_tok−k), i -> h32(concat_ws(" ",
  * slice(toks, i+1, k)))))` is an interpreted per-slot slice + string
  * build + hex-string md5 + base-conversion chain, re-run per gram
  * position of every document. One byte-scan pass now: a gram is EXACTLY
  * the byte range spanning its n tokens (single-space join of a
  * single-space split — the [[GramCounts]] equivalence argument) and md5
  * runs over the range directly. Same values in the same positions, so
  * every DuckDB oracle is unchanged. */
case class SpanGramHashes(child: Expression, n: Int) extends NativeUnary {
  override def prettyName: String = "graft_span_gram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def paramRule: String = "n > 0"
  override protected def paramsValid: Boolean = n > 0
  override protected def kernel: String = "ofText"
  override protected def params: Seq[Any] = Seq(n)

  override protected def withNewChildInternal(newChild: Expression): SpanGramHashes =
    copy(child = newChild)
}

object SpanGramHashes {

  /** The kernel. */
  def ofText(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val nToks = spaces + 1
    if (nToks < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](nToks + 1)
    var t = 1
    i = 0
    while (i < len) { if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(nToks) = len + 1
    val slots = nToks - n + 1
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](slots)
    var s = 0
    while (s < slots) {
      val from = starts(s)
      md.update(b, from, starts(s + n) - 1 - from)
      val d = md.digest()
      out(s) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column, n: Int): Column =
    SpanGramHashes(expr(text), n).toColumn
}
