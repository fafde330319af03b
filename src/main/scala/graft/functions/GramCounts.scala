package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Native per-document word n-gram multiplicity: string → `array<struct<
  * gram string, cnt long>>`, one entry per DISTINCT n-gram of the
  * single-space tokenization with its occurrence count; the empty array
  * when the document has fewer than `n` tokens.
  *
  * Why an Expression: the (doc_id, gram) cells behind the novelty family
  * are a PER-ROW pure function — grouping exploded gram instances by
  * (doc_id, gram) pays a hash aggregate over O(tokens) rows plus an
  * Exchange of every gram instance, at every scale, to compute something
  * each row already determines. This expression pre-aggregates map-side
  * in one pass, so the first exchange the novelty pipeline pays is the
  * gram-grain rollup of already-counted cells (the
  * [[MinHashSignatures]]/[[CharCounts]] discipline).
  *
  * Equivalence to the declarative form
  * `explode(transform(sequence(0, size(toks)-n), i -> concat_ws(" ",
  * slice(toks, i+1, n)))) … groupBy(doc_id, gram).count()` with
  * `toks = split(text, " ")` (Java `split(" ", -1)` semantics): every
  * token is delimited by single `0x20` bytes — which never occur inside a
  * UTF-8 multibyte sequence — so rejoining n consecutive tokens with one
  * space reproduces EXACTLY the byte range of the original text from the
  * first token's start to the last token's end (empty tokens from runs of
  * spaces included). Grams are therefore emitted as substrings of the
  * input; counts are exact 64-bit integers. Output order is first
  * occurrence (deterministic), and no consumer is order-sensitive (the
  * cells feed aggregations and joins). The DuckDB oracles keep their
  * relational explode + GROUP BY form — only the VALUES must match.
  */
case class GramCounts(child: Expression, n: Int, sep: String = " ") extends NativeUnary {
  override def prettyName: String = "graft_gram_counts"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def paramRule: String = "n > 0 and a non-empty separator"
  override protected def paramsValid: Boolean = n > 0 && sep.nonEmpty
  override protected def kernel: String = if (sep == " ") "ofText" else "ofTextSep"
  override protected def params: Seq[Any] =
    if (sep == " ") Seq(n)
    else Seq(n, sep.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override protected def withNewChildInternal(newChild: Expression): GramCounts =
    copy(child = newChild)
}

object GramCounts {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Initial hash-map capacity for `n` distinct-key slots: 2n, capped at
    * 2^16. Saturates instead of overflowing (`n * 2` is negative past
    * 2^30), and shared with [[HashEmbed.ofText]]. */
  private[functions] def capacityHint(n: Int): Int = math.min(n, 1 << 15) * 2

  /** The kernel for the single-space separator: one byte scan for the
    * space boundaries, one counting pass over the gram slots. Gram strings wrap
    * ranges of this call's own byte copy (`getBytes`), so no per-gram
    * string building happens at all. */
  def ofText(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val nToks = spaces + 1
    if (nToks < n) return Empty
    // starts(t) = byte offset of token t; sentinel starts(nToks) = len + 1
    // makes "end of token t" uniformly starts(t+1) - 1
    val starts = new Array[Int](nToks + 1)
    var t = 1
    i = 0
    while (i < len) { if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(nToks) = len + 1
    val slots = nToks - n + 1
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      capacityHint(slots))
    var s = 0
    while (s < slots) {
      val from = starts(s)
      val g = UTF8String.fromBytes(b, from, starts(s + n) - 1 - from)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      s += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The kernel for any other separator (a multi-byte literal separator
    * — the BPE merge stream's sentinel boundary): token
    * boundaries are the leftmost non-overlapping occurrences of the
    * separator bytes (≡ Java `split(sepLiteral, -1)` when tokens never
    * contain the separator bytes, which the BPE sentinel contract
    * guarantees), and a gram is the exact byte range spanning its n
    * tokens — interior separators included, i.e. the tokens rejoined
    * with the separator. Separator bytes are ASCII-range, so they never
    * occur inside UTF-8 multibyte sequences. */
  def ofTextSep(text: UTF8String, n: Int, sep: Array[Byte]): ArrayData = {
    val b = text.getBytes
    val len = b.length
    val sl = sep.length
    // leftmost non-overlapping separator occurrences
    var nSep = 0
    var i = 0
    while (i + sl <= len) {
      var m = 0
      while (m < sl && b(i + m) == sep(m)) m += 1
      if (m == sl) { nSep += 1; i += sl } else i += 1
    }
    val nToks = nSep + 1
    if (nToks < n) return Empty
    // starts(t) = byte offset of token t; ends(t) = one past its last byte
    val starts = new Array[Int](nToks)
    val ends = new Array[Int](nToks)
    starts(0) = 0
    var t = 0
    i = 0
    while (i + sl <= len) {
      var m = 0
      while (m < sl && b(i + m) == sep(m)) m += 1
      if (m == sl) { ends(t) = i; t += 1; starts(t) = i + sl; i += sl }
      else i += 1
    }
    ends(nToks - 1) = len
    val slots = nToks - n + 1
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      capacityHint(slots))
    var s = 0
    while (s < slots) {
      val from = starts(s)
      val g = UTF8String.fromBytes(b, from, ends(s + n - 1) - from)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      s += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column, n: Int): Column =
    GramCounts(expr(text), n).toColumn

  /** Column-DSL entry point, explicit separator. */
  def of(text: Column, n: Int, sep: String): Column =
    GramCounts(expr(text), n, sep).toColumn
}
