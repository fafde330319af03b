package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import NativeExpression.{expr, requireNoNullElements}

/** The portable hash family shared by the dedup sketches and their DuckDB
  * oracles — the single source of truth for the universal-hash constants
  * (graft.operators.Dedup delegates here; the oracle SQL interpolates the
  * same literals). */
object MinHashSeeds {
  /** 2^31-1: the universal-hash modulus (fits 64-bit signed arithmetic:
    * a·h < 2^62). */
  val P = 2147483647L

  def a(i: Int): Long = {
    val v = (1103515245L * (i + 1) + 12345L) % P
    if (v == 0L) 1L else v
  }
  def b(i: Int): Long = (69069L * (i + 7) + 54321L) % P

  /** Per-thread MD5 instance: `MessageDigest.getInstance` is a JCA
    * provider lookup + allocation per call — measurable when every token
    * of every document hashes through here. `digest()` resets the
    * instance, so reuse is safe; thread confinement makes it
    * codegen-safe (generated code runs the task's thread). */
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 8 hex chars of md5 as a non-negative int64 in [0, 2^32) — the
    * row-at-a-time mirror of Dedup.h32 (= first 4 digest bytes, big-endian
    * unsigned). */
  def h32(s: UTF8String): Long = {
    val d = md5.get().digest(s.getBytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** First 15 hex chars of md5 as a non-negative int64 in [0, 2^60) — the
    * first 8 digest bytes big-endian, dropped low nibble. DuckDB mirror:
    * `('0x' || substring(md5(s), 1, 15))::BIGINT`. */
  def h60(s: UTF8String): Long = {
    val d = md5.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }
}

/** Native MinHash signature: `array<long>` hashed shingles → the
  * [[MinHashSignatures.NumHashes]]-element signature
  * sig_i = min over h of (a_i·h + b_i) mod P.
  *
  * Why an Expression and not explode + a 128-column min aggregate (the
  * round-3 shape): the aggregate formulation shuffles one 128-value row per
  * document and burns a hash-aggregate over O(docs × shingles) exploded
  * rows; signatures are per-row pure functions, so the right plan is a
  * map-only projection — no exchange at ANY scale, and whole-stage codegen
  * calls the multiply-add-mod-min kernel directly (the interpreted
  * higher-order `transform`/`aggregate` fold this replaced in round 2 was
  * 15× slower).
  * Bit-for-bit the same values, so the DuckDB oracle (unnest + GROUP BY
  * min) is unchanged.
  */
case class MinHashSignatures(child: Expression) extends NativeUnary {
  override def prettyName: String = "graft_minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override protected def kernel: String = "ofShingles"

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatures =
    copy(child = newChild)
}

object MinHashSignatures {
  val NumHashes = 128

  private val SA: Array[Long] = Array.tabulate(NumHashes)(MinHashSeeds.a)
  private val SB: Array[Long] = Array.tabulate(NumHashes)(MinHashSeeds.b)

  /** The kernel: every shingle hash folded into an all-MaxValue seed
    * buffer (an empty shingle set keeps it — upstream guarantees ≥1
    * shingle per doc). */
  def ofShingles(shingles: ArrayData): ArrayData = {
    val out = new Array[Long](NumHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < shingles.numElements()) {
      val h = shingles.getLong(j)
      var i = 0
      while (i < NumHashes) {
        val x = (SA(i) * h + SB(i)) % MinHashSeeds.P
        if (x < out(i)) out(i) = x
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(hashedShingles: Column): Column =
    MinHashSignatures(expr(hashedShingles)).toColumn
}

/** Native hashed word k-shingles: string → `array<long>` of distinct
  * `h32(shingle) mod P` values — the Jaccard domain every fuzzy dedup
  * operator (MinHash, n-gram Jaccard, containment, decontamination)
  * consumes.
  *
  * Why an Expression and not the declarative
  * `array_distinct(transform(wordShingles(text), s => h32(s) % P))`: the
  * nested higher-order-function tree is CodegenFallback — every shingle
  * pays an interpreted `concat_ws` + string→binary cast + hex-string md5 +
  * base-conversion chain, and the lambda machinery allocates per element.
  * Shingling is a per-row pure function, so it belongs in one codegen'd
  * call: split once, one `MessageDigest` per row, digest bytes → long
  * directly (no hex round-trip). The same value SET as the declarative
  * form — split on single spaces keeping empties (Java `split(" ", -1)`
  * ≡ Spark `split(text, " ")`), shingles joined with one space,
  * distinct — emitted SORTED ascending (no consumer is order-sensitive;
  * sortedness enables [[SortedIntersectCount]]'s allocation-free merge),
  * so every DuckDB oracle is unchanged.
  *
  * Docs shorter than k tokens fall back to the whole text as a single
  * shingle (same as the declarative form's `otherwise(array(text))`).
  */
case class HashedShingles(child: Expression, k: Int) extends NativeUnary {
  override def prettyName: String = "graft_hashed_shingles"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def kernel: String = "ofText"
  override protected def params: Seq[Any] = Seq(k)

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {

  /** The kernel: tokenize, shingle, hash, distinct.
    * The result is SORTED ascending (round 6): no consumer depends on
    * shingle order (signatures min-fold, set intersections, explodes),
    * and a sorted representation lets [[SortedIntersectCount]] intersect
    * candidate pairs by linear merge instead of a per-pair hash set. */
  def ofText(text: UTF8String, k: Int): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    def h32mod(bytes: Array[Byte]): Long = {
      val d = md.digest(bytes)
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      h % MinHashSeeds.P
    }
    val toks = text.toString.split(" ", -1)
    if (toks.length < k)
      return UnsafeArrayData.fromPrimitiveArray(Array(h32mod(text.getBytes)))
    val seen = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      sb.append(toks(i))
      var d = 1
      while (d < k) { sb.append(' ').append(toks(i + d)); d += 1 }
      seen.add(h32mod(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-DSL entry point. */
  def of(text: Column, k: Int): Column =
    HashedShingles(expr(text), k).toColumn
}

/** Native within-document repetition statistics: `array<string>` tokens →
  * struct(dup_token_frac, top_bigram_frac, dup_trigram_frac).
  *
  *   - dup_token_frac: fraction of token instances beyond each token's
  *     first occurrence,
  *   - top_bigram_frac: occurrences of the most frequent word 2-gram over
  *     all 2-gram instances (0 when fewer than 2 tokens),
  *   - dup_trigram_frac: fraction of 3-gram instances whose gram occurs
  *     more than once (0 when fewer than 3 tokens).
  *
  * One O(n) hash-counting pass per document. The declarative formulation
  * (nested `filter`/`transform` higher-order folds) is CodegenFallback AND
  * re-evaluates the gram-array subtree once per outer lambda element —
  * O(n²) interpreted string construction per row (measured: 41 s of a 89 s
  * sf0.1 bench for 5000 docs). The DuckDB oracle keeps its relational
  * list-ops form — only the VALUES must match, not the algorithm.
  */
case class RepetitionStats(child: Expression) extends NativeUnary {
  override def prettyName: String = "graft_repetition_stats"
  override def dataType: DataType = RepetitionStats.Out
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override protected def kernel: String = "ofTokens"

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val Out: StructType = StructType(Seq(
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false),
    StructField("dup_trigram_frac", DoubleType, nullable = false)))

  /** The kernel. */
  def ofTokens(tokens: ArrayData): InternalRow = {
    requireNoNullElements("graft_repetition_stats", "tokens", tokens)
    val n = tokens.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = tokens.getUTF8String(i).toString; i += 1 }

    val distinctToks = new java.util.HashSet[String]()
    i = 0
    while (i < n) { distinctToks.add(toks(i)); i += 1 }
    val dupTokFrac =
      if (n == 0) 0.0 else (n - distinctToks.size).toDouble / n

    def gramCounts(k: Int): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      var j = 0
      while (j <= n - k) {
        val sb = new java.lang.StringBuilder(toks(j))
        var d = 1
        while (d < k) { sb.append(' ').append(toks(j + d)); d += 1 }
        m.merge(sb.toString, 1, Integer.sum _)
        j += 1
      }
      m
    }

    val bg = gramCounts(2)
    var topBg = 0
    var nBg = 0
    bg.values.forEach { c => nBg += c; if (c > topBg) topBg = c }
    val topBigramFrac = if (nBg == 0) 0.0 else topBg.toDouble / nBg

    val tg = gramCounts(3)
    var dupTg = 0
    var nTg = 0
    tg.values.forEach { c => nTg += c; if (c >= 2) dupTg += c }
    val dupTrigramFrac = if (nTg == 0) 0.0 else dupTg.toDouble / nTg

    new GenericInternalRow(Array[Any](dupTokFrac, topBigramFrac, dupTrigramFrac))
  }

  /** Column-DSL entry point. */
  def of(tokens: Column): Column =
    RepetitionStats(expr(tokens)).toColumn
}

/** Native signature-agreement count: two `array<long>` MinHash signatures
  * → int, the number of positions where they agree. The estimator behind
  * the dedup verify pre-filter (agreement/128 estimates Jaccard): per
  * CANDIDATE PAIR work, so at corpus scale it runs millions of times per
  * query — the interpreted `aggregate(zip_with(...))` fold it replaces
  * allocated a lambda frame per element per pair. Same values, so every
  * oracle's `len(list_filter(range(n), i -> a[i+1] = b[i+1]))` mirror is
  * unchanged. */
case class SigAgreement(left: Expression, right: Expression) extends NativeBinary {
  override def prettyName: String = "graft_sig_agreement"
  override def dataType: DataType = IntegerType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def kernel: String = "count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

object SigAgreement {
  /** The kernel. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Column-DSL entry point. */
  def of(a: Column, b: Column): Column =
    SigAgreement(expr(a), expr(b)).toColumn
}

/** Native intersection size of two SORTED distinct `array<long>`s → int,
  * by linear merge — the exact-verify core of every fuzzy dedup, run once
  * per candidate pair. Spark's `array_intersect` builds a hash set per
  * row; on sorted inputs the merge does the same count allocation-free.
  * Values are identical to `size(array_intersect(a, b))` on distinct
  * inputs, so every oracle's `len(list_intersect(...))` mirror is
  * unchanged.
  *
  * '''CONTRACT — sorted ascending, distinct.''' The merge silently
  * understates the count on unsorted or duplicated input; there is no
  * cheap way to detect that per pair in the hot path. Every producer
  * feeding this expression must emit strictly-ascending longs — today
  * that is [[HashedShingles]] (TreeSet iteration) and
  * `Multimodal.blockHashes` (`sort_array` over distinct hashes). New
  * producers: wire `array_sort(array_distinct(...))` or prove the order,
  * and flip [[SortedIntersectCount.checkSorted]] in a spec to have the
  * merge verify the precondition on every pair (debug-only: adds a
  * branch per element). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends NativeBinary {
  override def prettyName: String = "graft_sorted_intersect_count"
  override def dataType: DataType = IntegerType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def kernel: String = "count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Debug guard for the sorted-distinct input contract: when enabled
    * (system property `graft.check.sorted`, or directly from a spec),
    * every evaluation verifies both arrays are strictly ascending and
    * throws instead of silently understating the count. Off by default —
    * the production producers guarantee the order. */
  @volatile var checkSorted: Boolean = java.lang.Boolean.getBoolean("graft.check.sorted")

  private def requireSorted(a: ArrayData): Unit = {
    var i = 1
    while (i < a.numElements()) {
      require(a.getLong(i - 1) < a.getLong(i),
        s"graft_sorted_intersect_count input violates the strictly-ascending " +
          s"contract at index $i: ${a.getLong(i - 1)} !< ${a.getLong(i)}")
      i += 1
    }
  }

  /** The kernel. Inputs must be sorted ascending
    * and distinct (see the class scaladoc contract). */
  def count(a: ArrayData, b: ArrayData): Int = {
    if (checkSorted) { requireSorted(a); requireSorted(b) }
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Column-DSL entry point. */
  def of(a: Column, b: Column): Column =
    SortedIntersectCount(expr(a), expr(b)).toColumn
}

/** Native 60-bit SimHash: `array<string>` tokens → long. Per token,
  * h = h60(md5) and each of the 60 bit positions votes +1/-1 by the bit of
  * h; positive vote totals set the result bit. Duplicates count, as in the
  * standard definition.
  *
  * 60 bits, not the round-3 32: with 4 bands the per-band key widens from
  * 8 to 15 bits — 32768 buckets per band instead of 256, so the banded
  * self-join stops drowning in false-positive candidates (256 buckets
  * saturate the [[graft.operators.Dedup.MaxBandBucket]] cap already at
  * ~16k distinct contents; 15-bit bands push that 128× further out while
  * keeping the pigeonhole guarantee: ≤3 flipped bits cannot touch all 4
  * bands). 60 and not 64 because the portable hash is md5 hex parsed as a
  * signed BIGINT on BOTH engines — 15 hex chars (60 bits) is the widest
  * value that stays positive in DuckDB.
  *
  * Replaces explode + 32 conditional sums (one shuffled row per doc, heavy
  * hash aggregate) with a map-only projection — same motivation and same
  * oracle-parity argument as [[MinHashSignatures]]. The md5 per token is
  * inherent (it IS the portable hash both engines share); this just stops
  * paying an exchange to fold 32 bits per document.
  */
case class SimHash60(child: Expression) extends NativeUnary {
  override def prettyName: String = "graft_simhash60"
  override def dataType: DataType = LongType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override protected def kernel: String = "ofTokens"

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  val Bits = 60

  /** The kernel. Bit votes are summed per
    * DISTINCT token weighted by its occurrence count — algebraically
    * identical to voting once per occurrence (the sum commutes), but
    * md5 runs once per distinct token: on natural text, where stopword
    * repetition dominates, that is most of this expression's cost. */
  def ofTokens(tokens: ArrayData): Long = {
    requireNoNullElements("graft_simhash60", "tokens", tokens)
    val n = tokens.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](math.min(n, 64))
    var j = 0
    while (j < n) {
      val t = tokens.getUTF8String(j)
      val c = counts.get(t)
      counts.put(t, if (c == null) 1 else c + 1)
      j += 1
    }
    val votes = new Array[Int](Bits)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = MinHashSeeds.h60(e.getKey)
      val w = e.getValue.intValue()
      var i = 0
      while (i < Bits) {
        if (((h >> i) & 1L) == 1L) votes(i) += w else votes(i) -= w
        i += 1
      }
    }
    var res = 0L
    var i = 0
    while (i < Bits) {
      if (votes(i) > 0) res |= 1L << i
      i += 1
    }
    res
  }

  /** Column-DSL entry point. */
  def of(tokens: Column): Column =
    SimHash60(expr(tokens)).toColumn
}
