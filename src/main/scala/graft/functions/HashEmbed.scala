package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Native hashing-trick document embedding: a document string → its
  * sparse signed bucket counts `array<struct<dim long, raw long>>` —
  * for every token, `dim = h32("hemb:" ⧺ token) mod nDims` and a ±1 sign
  * from `h32("hsgn:" ⧺ token) mod 2`; `raw[dim]` sums the signs. One
  * entry per TOUCHED dim (a dim whose signs cancel to 0 is still
  * emitted — it was a group in the former aggregation), dim ascending.
  *
  * Why an Expression: the (doc, dim) signed counts are a PER-ROW pure
  * function — the explode + groupBy(doc_id, dim) formulation paid a hash
  * aggregate over O(tokens) rows and an Exchange of every (doc, dim)
  * pair, then a per-doc WINDOW (second exchange) for the norm. This
  * folds the document in one pass and hashes each DISTINCT token once
  * (md5 is inherent — the portable hash both engines share — but sign
  * and dim are fixed per token, so instance repeats multiply instead of
  * re-hashing). Values are exact integers; every DuckDB oracle (explode
  * + GROUP BY mirror) is unchanged. Tokenization: Java `split(" ", -1)`
  * ≡ Spark `split(text, " ")`. */
case class HashEmbed(child: Expression, nDims: Int) extends NativeUnary {
  override def prettyName: String = "graft_hash_embed"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dim", LongType, nullable = false),
    StructField("raw", LongType, nullable = false))), containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def paramRule: String = "nDims > 0"
  override protected def paramsValid: Boolean = nDims > 0
  override protected def kernel: String = "ofText"
  override protected def params: Seq[Any] = Seq(nDims)

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}

object HashEmbed {

  private val EmbPrefix = "hemb:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val SgnPrefix = "hsgn:".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The kernel. */
  def ofText(text: UTF8String, nDims: Int): ArrayData = {
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
    // distinct-token counts (zero-copy slices over this call's own copy)
    val counts = new java.util.HashMap[UTF8String, Array[Long]](
      GramCounts.capacityHint(nToks))
    var s = 0
    while (s < nToks) {
      val from = starts(s)
      val tok = UTF8String.fromBytes(b, from, starts(s + 1) - 1 - from)
      val c = counts.get(tok)
      if (c == null) counts.put(tok, Array(1L)) else c(0) += 1L
      s += 1
    }
    val md = MessageDigest.getInstance("MD5")
    def h32(prefix: Array[Byte], tok: UTF8String): Long = {
      md.update(prefix)
      md.update(tok.getBytes)
      val d = md.digest()
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    }
    val raw = new Array[Long](nDims)
    val touched = new Array[Boolean](nDims)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val tok = e.getKey
      val dim = (h32(EmbPrefix, tok) % nDims).toInt
      val sgn = if (h32(SgnPrefix, tok) % 2 == 0) 1L else -1L
      raw(dim) += sgn * e.getValue()(0)
      touched(dim) = true
    }
    var nnz = 0
    i = 0
    while (i < nDims) { if (touched(i)) nnz += 1; i += 1 }
    val out = new Array[Any](nnz)
    var j = 0
    i = 0
    while (i < nDims) {
      if (touched(i)) {
        out(j) = new GenericInternalRow(Array[Any](i.toLong, raw(i)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column, nDims: Int): Column =
    HashEmbed(expr(text), nDims).toColumn
}
