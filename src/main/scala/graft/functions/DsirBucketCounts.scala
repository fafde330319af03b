package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Native per-document DSIR feature histogram: a (lowercased) document
  * string → `array<struct<b long, c long>>` — the per-bucket instance
  * counts of its hashed n-gram features (unigrams + adjacent word
  * bigrams, each hashed through the portable md5 h32 into
  * `pmod(h32, nBuckets)`), sparse (only observed buckets), bucket
  * ascending.
  *
  * Why an Expression: the per-(doc, bucket) count table behind the DSIR
  * family is a PER-ROW pure function — the former per-instance explode
  * (one row per token AND per bigram) paid an interpreted
  * `transform(sequence, i -> concat_ws(get, get))` bigram build plus a
  * groupBy(doc_id, b) hash aggregate and its Exchange, at every scale.
  * One byte-scan pass now: tokens are single-space byte ranges, a bigram
  * is EXACTLY the byte range spanning two adjacent tokens (single-space
  * join of a single-space split — the [[GramCounts]] equivalence
  * argument), and md5 runs over each range directly. The md5 per gram is
  * inherent — it IS the portable hash both engines share. Bucket counts
  * are exact integers, so every DuckDB oracle (explode + GROUP BY
  * mirror) is unchanged; only observed buckets are emitted (≡ the former
  * groupBy output), bucket-ascending (no consumer is order-sensitive).
  *
  * Tokenization: Java `split(" ", -1)` ≡ Spark `split(text, " ")` —
  * empty tokens included, minimum one (empty) token per document; the
  * bigram leg contributes only when the document has ≥ 2 tokens.
  */
case class DsirBucketCounts(child: Expression, nBuckets: Int) extends NativeUnary {
  override def prettyName: String = "graft_dsir_bucket_counts"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def paramRule: String = "nBuckets > 0"
  override protected def paramsValid: Boolean = nBuckets > 0
  override protected def kernel: String = "ofText"
  override protected def params: Seq[Any] = Seq(nBuckets)

  override protected def withNewChildInternal(newChild: Expression): DsirBucketCounts =
    copy(child = newChild)
}

object DsirBucketCounts {

  /** The kernel: one space-boundary scan, md5 per
    * unigram byte range and per adjacent-bigram byte range, dense bucket
    * histogram, sparse ascending emission. */
  def ofText(text: UTF8String, nBuckets: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val nToks = spaces + 1
    val starts = new Array[Int](nToks + 1)
    var t = 1
    i = 0
    while (i < len) { if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(nToks) = len + 1
    val md = MessageDigest.getInstance("MD5")
    val counts = new Array[Long](nBuckets)
    def add(from: Int, until: Int): Unit = {
      md.update(b, from, until - from)
      val d = md.digest()
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      counts((h % nBuckets).toInt) += 1L
    }
    var s = 0
    while (s < nToks) {
      add(starts(s), starts(s + 1) - 1) // unigram: token s
      if (s + 2 <= nToks)
        add(starts(s), starts(s + 2) - 1) // bigram: tokens s, s+1
      s += 1
    }
    var nnz = 0
    i = 0
    while (i < nBuckets) { if (counts(i) > 0) nnz += 1; i += 1 }
    val out = new Array[Any](nnz)
    var j = 0
    i = 0
    while (i < nBuckets) {
      if (counts(i) > 0) {
        out(j) = new GenericInternalRow(Array[Any](i.toLong, counts(i)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column, nBuckets: Int): Column =
    DsirBucketCounts(expr(text), nBuckets).toColumn
}
