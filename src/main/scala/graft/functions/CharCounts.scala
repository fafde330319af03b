package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Per-document character histogram in ONE pass: the multiset of code
  * points of the string (excluding the five Java-regex line terminators,
  * so the kept set is exactly what `regexp_extract_all(text, '.', 0)`
  * yields), counted and emitted as `array<long>` of counts ordered by
  * code point — the same count sequence the old
  * explode → groupBy(doc,ch) → sort_array(collect_list(struct(ch,c)))
  * pipeline produced, because UTF-8 binary string order over single code
  * points IS code point order. Callers fold the counts positionally, so
  * only the counts (not the characters) need to leave the expression.
  *
  * Why an expression (guide §2.4 + §4): the old shape paid one exploded
  * row PER CHARACTER through a regex engine, a (doc, ch) exchange, a
  * doc-grain exchange, and a join back for empty documents — for a value
  * that is a pure per-row function of `text`. This loop makes the whole
  * query map-only (zero exchanges at any scale) and touches each byte
  * once. */
case class CharCounts(child: Expression) extends NativeUnary {
  override def prettyName: String = "graft_char_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def kernel: String = "counts"

  override protected def withNewChildInternal(newChild: Expression): CharCounts =
    copy(child = newChild)
}

object CharCounts {
  /** True for the code points Java-regex `.` (no DOTALL, no UNIX_LINES)
    * does NOT match: \n, \r, NEL, LS, PS. */
  private def isLineTerminator(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** The kernel. */
  def counts(s: UTF8String): UnsafeArrayData = {
    val str = s.toString
    val m = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      if (!isLineTerminator(cp)) {
        val slot = m.get(cp)
        if (slot == null) m.put(cp, Array(1L)) else slot(0) += 1L
      }
      i += Character.charCount(cp)
    }
    val out = new Array[Long](m.size)
    val it = m.values().iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next()(0); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column): Column = CharCounts(expr(text)).toColumn
}
