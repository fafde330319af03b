package graft.functions

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r18 batch-2 native expressions: identical values to the
  * declarative formulations they replaced — per-doc gram multiplicity
  * ([[GramCounts]] vs explode + groupBy(doc_id, gram)), the hashed
  * linear-gate statistics ([[ClfStats]] vs explode + groupBy(doc_id)
  * over h32 weight lookups), and the per-pair ADC fold ([[AdcDist]] vs
  * the interpreted aggregate(sequence(...)) higher-order fold). */
class GramClfAdcExprSpec extends SparkSpec {

  private val rnd = new Random(181)

  /** Random-ish texts exercising the edge shapes: repeated tokens (real
    * multiplicities), runs of spaces (empty tokens), leading/trailing
    * spaces, multibyte UTF-8, under-n docs, the empty string. */
  private def texts(): Seq[(Long, String)] = {
    val vocab = Seq("a", "bb", "ccc", "døc", "é", "f", "gg", "hhh", "", "京")
    val gen = (0 until 60).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    gen ++ Seq((100L, ""), (101L, "one two three four"), (102L, "  x  "),
      (103L, "a a a a a a a"), (104L, " lead"), (105L, "trail "))
  }

  test("GramCounts matches explode + groupBy(doc_id, gram) counting exactly") {
    val sp = spark; import sp.implicits._
    val n = 5
    val df = texts().toDF("doc_id", "text")
    val t = col("_toks")
    val expected = df
      .select(col("doc_id"), split(col("text"), " ").as("_toks"))
      .where(org.apache.spark.sql.functions.size(t) >= lit(n))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), org.apache.spark.sql.functions.size(t) - lit(n)),
        i => concat_ws(" ", slice(t, i + 1, lit(n))))).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("doc_id"), explode(GramCounts.of(col("text"), n)).as("gc"))
      .select(col("doc_id"), col("gc.gram").as("gram"), col("gc.cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("ClfStats matches the explode + groupBy h32 weight-sum exactly") {
    val sp = spark; import sp.implicits._
    val weights = graft.operators.TextAnalysis.ClfWeightTenths
    val dim = weights.size
    val w = typedLit(weights)
    val df = texts().toDF("doc_id", "text")
    val expected = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .select(col("doc_id"), element_at(w,
        (graft.operators.Dedup.h32(col("term")) % dim).cast("int") + 1).as("twi"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("twi")).as("sum_twi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = df
      .select(col("doc_id"), ClfStats.of(lower(col("text")), weights).as("cs"))
      .select(col("doc_id"), col("cs.n_tokens"), col("cs.sum_twi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got shouldBe expected
  }

  test("GramCounts n=2 matches the adjacent-pair explode + groupBy counting exactly") {
    val sp = spark; import sp.implicits._
    val df = texts().toDF("doc_id", "text")
    val t = col("_tk")
    val expected = df
      .select(col("doc_id"), split(col("text"), " ").as("_tk"))
      .select(col("doc_id"), explode(when(
        org.apache.spark.sql.functions.size(t) >= 2,
        transform(sequence(lit(0),
            org.apache.spark.sql.functions.size(t) - 2),
          i => concat_ws(" ", get(t, i), get(t, i + 1))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("doc_id", "pair").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("doc_id"), explode(GramCounts.of(col("text"), 2)).as("pc"))
      .select(col("doc_id"), col("pc.gram").as("pair"), col("pc.cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("DsirBucketCounts matches the gram explode + pmod(h32) + groupBy exactly") {
    val sp = spark; import sp.implicits._
    val buckets = graft.operators.Corpus.DsirBuckets
    val df = texts().toDF("doc_id", "text")
    val t = col("_tk")
    val grams = concat(t, when(
      org.apache.spark.sql.functions.size(t) >= 2,
      transform(sequence(lit(0),
          org.apache.spark.sql.functions.size(t) - 2),
        i => concat_ws(" ", get(t, i), get(t, i + 1))))
      .otherwise(array().cast("array<string>")))
    val expected = df
      .select(col("doc_id"), split(lower(col("text")), " ").as("_tk"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"),
        pmod(graft.operators.Dedup.h32(col("gram")), lit(buckets.toLong)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("doc_id"),
        explode(DsirBucketCounts.of(lower(col("text")), buckets)).as("bc"))
      .select(col("doc_id"), col("bc.b"), col("bc.c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("HashEmbed matches the explode + h32 dim/sign + groupBy(doc, dim) exactly") {
    val sp = spark; import sp.implicits._
    val dim = graft.operators.TextAnalysis.HashEmbDim
    val df = texts().toDF("doc_id", "text")
    val expected = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"),
        (graft.operators.Dedup.h32(concat(lit("hemb:"), col("term"))) % dim)
          .as("dim"),
        when(graft.operators.Dedup.h32(concat(lit("hsgn:"), col("term")))
          % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "dim").agg(sum("sgn").as("raw"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("doc_id"), explode(HashEmbed.of(col("text"), dim)).as("p"))
      .select(col("doc_id"), col("p.dim"), col("p.raw"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("weighted Misra-Gries candidates are a superset of true heavy hitters " +
      "and the recount answer matches the instance sketch's") {
    val sp = spark; import sp.implicits._
    // skewed stream: term i has frequency ~ 1/(i+1) — several true heavy
    // hitters at denom 5 plus a long tail forcing evictions at k=8
    val instances = (0 until 40).flatMap(i =>
      Seq.fill(1200 / (i + 1))(s"t$i"))
    val shuffled = rnd.shuffle(instances)
    val n = shuffled.size.toLong
    val denom = 5
    val truth = shuffled.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, f) => f * denom > n }.keySet.toSet
    // weighted sketch over pre-aggregated per-"doc" cells (docs = chunks)
    val cells = shuffled.grouped(97).toSeq.zipWithIndex.flatMap {
      case (chunk, d) => chunk.groupBy(identity).map {
        case (term, xs) => (term, xs.size.toLong) }
    }
    val wCand = cells.toDF("term", "cnt")
      .agg(MisraGriesWeighted.of(8)(col("term"), col("cnt")).as("cands"))
      .select(explode(col("cands")).as("c"))
      .select(col("c.item")).collect().map(_.getString(0)).toSet
    // no false negatives: every true heavy hitter survives the sketch
    truth.subsetOf(wCand) shouldBe true
    // exact recount over the candidates reproduces the truth
    val counts = shuffled.groupBy(identity).view.mapValues(_.size.toLong)
    val answer = wCand.filter(t => counts.getOrElse(t, 0L) * denom > n)
    answer shouldBe truth
  }

  test("GramCounts with a multi-byte separator matches the sentinel pair explode exactly") {
    val sp = spark; import sp.implicits._
    val sep = "\u0002\u0001"
    // sentinel-wrapped streams, tokens free of sentinel bytes (the BPE
    // contract), incl. 1-token and empty-token streams and merged tokens
    val streams = Seq("a", "a,b", "a,b,a,b,c", "x_y,z", "", "t")
      .zipWithIndex.map { case (toks, i) =>
        (i.toLong,
          toks.split(",", -1).map(t => "\u0001" + t + "\u0002").mkString) }
    val df = streams.toDF("sid", "s")
    val inner = col("s").substr(lit(2),
      org.apache.spark.sql.functions.length(col("s")) - 2)
    val t = col("_tk")
    val expected = df
      .select(col("sid"), split(inner, sep).as("_tk"))
      .select(col("sid"), explode(when(
        org.apache.spark.sql.functions.size(t) >= 2,
        transform(sequence(lit(0),
            org.apache.spark.sql.functions.size(t) - 2),
          i => concat(get(t, i), lit(sep), get(t, i + 1))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("sid", "pair").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("sid"), explode(GramCounts.of(inner, 2, sep)).as("pc"))
      .select(col("sid"), col("pc.gram").as("pair"), col("pc.cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("SpanGramHashes matches the positional slice + concat_ws + h32 transform exactly") {
    val sp = spark; import sp.implicits._
    val k = 5
    val df = texts().toDF("doc_id", "text")
    val t = col("_tk")
    val expected = df
      .select(col("doc_id"), split(col("text"), " ").as("_tk"))
      .where(org.apache.spark.sql.functions.size(t) >= lit(k))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), org.apache.spark.sql.functions.size(t) - lit(k)),
        i => graft.operators.Dedup.h32(
          concat_ws(" ", slice(t, i + 1, lit(k)))))))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = df
      .select(col("doc_id"), posexplode(SpanGramHashes.of(col("text"), k)))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    got shouldBe expected
  }

  test("BlockHashes matches the hex-substr transform + distinct + sort exactly") {
    val sp = spark; import sp.implicits._
    val rows = (0 until 80).map { i =>
      val n = rnd.nextInt(200) // includes < 1 block, partial last block
      (i.toLong, Array.fill(n)(rnd.nextInt(256).toByte))
    } :+ ((100L, Array.empty[Byte])) :+
      ((101L, Array.fill(64)(7.toByte))) // identical blocks → distinct fires
    val df = rows.toDF("doc_id", "payload")
    val expected = df
      .select(col("doc_id"),
        graft.operators.Multimodal.blockHashesOfHex(hex(col("payload"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = df
      .select(col("doc_id"),
        graft.operators.Multimodal.blockHashes(col("payload")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got shouldBe expected
  }

  test("AdcDist matches the aggregate(sequence(...)) fold bit-for-bit") {
    val sp = spark; import sp.implicits._
    val k = 16
    val nSub = 8
    val rows = (0 until 200).map { _ =>
      ((0 until nSub).map(_ => rnd.nextInt(k)),
       (0 until nSub * k).map(_ => rnd.nextDouble() * 4 - 2))
    }
    val out = rows.toDF("codes", "qtab").select(
      AdcDist.of(col("codes"), col("qtab"), k).as("native"),
      aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
        (acc, m) => acc + element_at(col("qtab"),
          m * k + element_at(col("codes"), m + 1) + 1)).as("interp"))
      .collect()
    out.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("AdcDist throws on a null table entry or code, an out-of-range code and a short table") {
    val sp = spark; import sp.implicits._
    val k = 4
    val qtab = (0 until 2 * k).map(i => Option(i * 0.5))
    val malformed = Seq(
      "null qtab entry" -> (Seq(Option(1), Option(2)), qtab.updated(k + 2, None)),
      "null code" -> (Seq(Option(1), None), qtab),
      "outside [0, 4)" -> (Seq(Option(0), Option(k)), qtab),
      "outside [0, 4)" -> (Seq(Option(-1), Option(0)), qtab),
      "fewer than nSub·k" -> (Seq(Option(0), Option(0)), qtab.take(2 * k - 1)))
    for ((expected, (codes, table)) <- malformed; codegen <- Seq(false, true)) {
      val df = Seq((codes, table)).toDF("codes", "qtab")
      // a repartitioned frame is evaluated by generated code in a task; a
      // local one by the optimizer's interpreted local-relation folding
      val in = if (codegen) df.repartition(2) else df
      val e = intercept[Exception] {
        in.select(AdcDist.of(col("codes"), col("qtab"), k)).collect()
      }
      val messages = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      withClue(s"codegen=$codegen: ") { messages should include(expected) }
    }
  }

  test("array kernels throw on a null element instead of reading it as 0") {
    val sp = spark; import sp.implicits._
    val v = Seq(Option(1.0), None, Option(0.5), Option(2.0))
    val ok = Seq(Option(1.0), Option(1.0), Option(1.0), Option(1.0))
    val planes = Array.tabulate(4, 4)((j, i) => math.sin(j * 4 + i + 1.0))
    val cases = Seq[(String, (Seq[Option[Double]], Seq[Option[Double]]), Column)](
      ("graft_dot", (v, ok), DotProduct.of(col("a"), col("b"))),
      ("graft_dot", (ok, v), DotProduct.of(col("a"), col("b"))),
      ("graft_subspace_sq_dists", (v, ok), SubspaceSqDists.of(col("a"), col("b"), 2)),
      ("graft_prefix_dots", (ok, v), PrefixDots.of(col("a"), col("b"), Seq(1, 4))),
      ("graft_sign_bands", (v, ok), SignBands.of(col("a"), planes, 2)),
      ("graft_pq_assign", (v, ok ++ ok), PqAssign.of(col("a"), col("b"), 2)),
      ("graft_pq_assign", (ok, ok ++ v), PqAssign.of(col("a"), col("b"), 2)))
    val tokens = Seq(Option("a"), None, Option("b"))
    val tokenCases = Seq[(String, Column)](
      "graft_repetition_stats" -> RepetitionStats.of(col("t")),
      "graft_simhash60" -> SimHash60.of(col("t")))
    for (codegen <- Seq(false, true)) {
      // a repartitioned frame is evaluated by generated code in a task; a
      // local one by the optimizer's interpreted local-relation folding
      def run(df: org.apache.spark.sql.DataFrame, c: Column): Throwable = intercept[Exception] {
        (if (codegen) df.repartition(2) else df).select(c).collect()
      }
      def messages(e: Throwable) = Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      for ((name, (a, b), c) <- cases)
        withClue(s"$name codegen=$codegen: ") {
          messages(run(Seq((a, b)).toDF("a", "b"), c)) should include(s"$name: null element")
        }
      for ((name, c) <- tokenCases)
        withClue(s"$name codegen=$codegen: ") {
          messages(run(Seq(Tuple1(tokens)).toDF("t"), c)) should include(s"$name: null element 1")
        }
    }
  }

  test("SignBands over equal copies of the planes are equal and semantically equal") {
    val planes = Array.tabulate(8, 4)((j, i) => math.cos(j * 4 + i + 1.0))
    val v = lit(Array(1.0, 2.0, 3.0, 4.0))
    val a = org.apache.spark.sql.graft.bridge.expression(SignBands.of(v, planes, 4))
    val b = org.apache.spark.sql.graft.bridge.expression(SignBands.of(v, planes.map(_.clone), 4))
    a shouldBe b
    a.semanticEquals(b) shouldBe true
    val sp = spark; import sp.implicits._
    val plan = Seq(Tuple1(Array(1.0, 2.0, 3.0, 4.0))).toDF("v")
      .select(SignBands.of(col("v"), planes, 4)).queryExecution.toString
    plan should not include "[[D@"
    plan should include("graft_sign_bands")
  }

  test("ClfStats over equal copies of the weights are equal and semantically equal") {
    val w = graft.operators.TextAnalysis.ClfWeightTenths
    val text = lit("a b")
    val a = org.apache.spark.sql.graft.bridge.expression(ClfStats.of(text, w.toList))
    val b = org.apache.spark.sql.graft.bridge.expression(ClfStats.of(text, w.toVector))
    a shouldBe b
    a.semanticEquals(b) shouldBe true
  }

  test("capacity hint saturates at 2^16 instead of overflowing") {
    // the old min(n * 2, 1 << 16) went negative past 2^30 slots
    GramCounts.capacityHint(1 << 30) shouldBe (1 << 16)
    GramCounts.capacityHint(Int.MaxValue) shouldBe (1 << 16)
    // unchanged wherever 2n did not overflow
    Seq(0, 1, 7, 1 << 15, (1 << 15) + 1, 1 << 20)
      .foreach(n => GramCounts.capacityHint(n) shouldBe math.min(n * 2, 1 << 16))
  }
}
