package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.expr

/** Thresholded edit distance with common-affix stripping — returns the
  * unit-cost Levenshtein distance when it is ≤ k, −1 otherwise
  * (identical contract to Spark's 3-arg `levenshtein`, which
  * [[graft.operators.Dedup.editDistanceBestMatch]] originally used).
  *
  * Why replace the builtin: the scale sweep's amplified corpus packs
  * ten true near-copies of every document — exactly the adversarial
  * shape a production dedup meets — and the builtin kernel pays
  * O(len·k) over the FULL text of every candidate pair even though the
  * pair differs in a handful of characters. Stripping the common
  * prefix and suffix first (exact for unit-cost Levenshtein) reduces
  * the DP to the differing middle, so near-identical long documents —
  * the case a near-dup verifier sees most — cost O(diff·k), not
  * O(len·k): the sf1 sweep point dropped 18× (73.7 s → 4.1 s, growth
  * exponent 1.70 → 0.31). The DP itself is the classic banded rows
  * with ±1-shift sentinels and a whole-band early exit.
  *
  * Same contract as the other native sketches: a per-row pure
  * function, null-safe, one kernel for eval and generated code. */
case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
    extends NativeBinary {
  override def prettyName: String = "graft_lev_bounded"
  override def dataType: DataType = IntegerType
  override protected def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override protected def kernel: String = "of"
  override protected def params: Seq[Any] = Seq(k)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)
}

object BoundedLevenshtein {

  def of(a: Column, b: Column, k: Int): Column =
    BoundedLevenshtein(expr(a), expr(b), k).toColumn

  /** String entry point (tests / ad-hoc callers): distance over the
    * UTF-8 encodings — same grain as the kernel below. */
  def of(s: String, t: String, k: Int): Int =
    of(UTF8String.fromString(s), UTF8String.fromString(t), k)

  /** The kernel. Exact: equals the
    * unbounded Levenshtein distance whenever that is ≤ k, else −1.
    *
    * Operates on UTF-8 BYTES, not UTF-16 chars: the documented grain of
    * this operator family is "edit distance over the UTF-8 byte
    * sequence" — the grain DuckDB's `levenshtein` natively computes, so
    * the oracle mirrors bit-for-bit on any script (the round-15 fuzz
    * gate caught the old char-grain kernel diverging from the oracle on
    * emoji/CJK corpora: é is 1 char but 2 bytes). On ASCII text the two
    * grains are identical; on multi-byte scripts byte-grain weighs a
    * substituted character by its encoded width — acceptable for a
    * near-dup verifier, and it skips the UTF-16 decode entirely
    * (UTF8String.getBytes is the stored representation). */
  def of(a: UTF8String, b: UTF8String, k: Int): Int = {
    val s = a.getBytes
    val t = b.getBytes
    val ls = s.length
    val lt = t.length
    if (math.abs(ls - lt) > k) return -1
    // strip the common prefix and (then) the common suffix — exact for
    // unit-cost edit distance, and the whole point for near-copies
    var pre = 0
    val maxPre = math.min(ls, lt)
    while (pre < maxPre && s(pre) == t(pre)) pre += 1
    var suf = 0
    val maxSuf = maxPre - pre
    while (suf < maxSuf &&
      s(ls - 1 - suf) == t(lt - 1 - suf)) suf += 1
    val m = ls - pre - suf
    val n = lt - pre - suf
    if (m == 0) return n // n ≤ k: |m − n| ≤ k was checked above
    if (n == 0) return m
    // banded DP over the middle; cells outside the ±k band are INF, and
    // because the band shifts by at most one per row, a single sentinel
    // on each edge keeps stale neighbors unreadable
    val inf = k + 1
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= m) {
      val from = math.max(1, i - k)
      val to = math.min(n, i + k)
      cur(0) = if (i <= k) i else inf
      if (from > 1) cur(from - 1) = inf
      if (to < n) cur(to + 1) = inf
      var best = inf
      var jj = from
      while (jj <= to) {
        val cost =
          if (s(pre + i - 1) == t(pre + jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost // substitution / match
        val del = prev(jj) + 1      // delete from s
        if (del < v) v = del
        val ins = cur(jj - 1) + 1   // insert into s
        if (ins < v) v = ins
        cur(jj) = if (v > inf) inf else v
        if (cur(jj) < best) best = cur(jj)
        jj += 1
      }
      if (best >= inf) return -1 // the whole band exceeded k: no path back
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) > k) -1 else prev(n)
  }
}
