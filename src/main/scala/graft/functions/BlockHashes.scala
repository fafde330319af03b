package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

import NativeExpression.expr

/** Native per-record content-block hash set: a binary payload → the
  * SORTED DISTINCT `array<long>` of `h32(hex(block)) mod P` over its
  * fixed-size blocks — the [[graft.operators.Multimodal]] block-dedup
  * domain. Block i covers hex chars [i·w, min((i+1)·w, len)) of the
  * UPPERCASE hex encoding (Spark's `hex`), i.e. payload bytes
  * [i·w/2, min((i+1)·w/2, n)); md5 runs over the block's hex CHARACTERS
  * (the portable convention both engines share — the oracle md5s hex
  * substrings). The empty payload carries no blocks.
  *
  * Why an Expression: the declarative
  * `sort_array(array_distinct(transform(sequence(...), i ->
  * h32(hx.substr(...)) % P)))` chain is an interpreted per-block
  * substring + hex-string md5 + base-conversion pipeline over a
  * materialized 2×-payload hex string, per row. One pass now: each
  * block's hex is encoded into a reusable stack buffer and digested
  * directly — the full hex string never materializes. Same value SET
  * (identical md5 inputs), distinct, sorted ascending — the
  * [[HashedShingles]] contract [[SortedIntersectCount]] relies on — so
  * every DuckDB oracle is unchanged. */
case class BlockHashes(child: Expression, hexChars: Int, modP: Long) extends NativeUnary {
  override def prettyName: String = "graft_block_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType)
  override protected def paramRule: String = "even hexChars > 0 and modP > 0"
  override protected def paramsValid: Boolean = hexChars > 0 && hexChars % 2 == 0 && modP > 0
  override protected def kernel: String = "ofPayload"
  override protected def params: Seq[Any] = Seq[Any](hexChars, modP)

  override protected def withNewChildInternal(newChild: Expression): BlockHashes =
    copy(child = newChild)
}

object BlockHashes {

  private val HexDigits = "0123456789ABCDEF".getBytes

  /** The kernel. */
  def ofPayload(payload: Array[Byte], hexChars: Int, modP: Long): ArrayData = {
    val n = payload.length
    if (n == 0)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val blockBytes = hexChars / 2
    val nBlocks = (n + blockBytes - 1) / blockBytes
    val md = MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](hexChars)
    val hs = new Array[Long](nBlocks)
    var i = 0
    while (i < nBlocks) {
      val from = i * blockBytes
      val until = math.min(from + blockBytes, n)
      var j = from
      var o = 0
      while (j < until) {
        val b = payload(j) & 0xFF
        buf(o) = HexDigits(b >>> 4)
        buf(o + 1) = HexDigits(b & 0xF)
        j += 1
        o += 2
      }
      md.update(buf, 0, o)
      val d = md.digest()
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      hs(i) = h % modP
      i += 1
    }
    java.util.Arrays.sort(hs)
    var nnz = 1
    i = 1
    while (i < nBlocks) { if (hs(i) != hs(i - 1)) nnz += 1; i += 1 }
    if (nnz == nBlocks) return UnsafeArrayData.fromPrimitiveArray(hs)
    val out = new Array[Long](nnz)
    out(0) = hs(0)
    var j = 1
    i = 1
    while (i < nBlocks) {
      if (hs(i) != hs(i - 1)) { out(j) = hs(i); j += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(payload: Column, hexChars: Int, modP: Long): Column =
    BlockHashes(expr(payload), hexChars, modP).toColumn
}
