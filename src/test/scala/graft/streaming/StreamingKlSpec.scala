package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Corpus, Dedup}

/** Continuous KL drift monitoring: each micro-batch's per-source KL
  * against the frozen resident model equals the batch scoring of the
  * same slice, and scoring the whole incoming split in one batch equals
  * the registered corpus_kl_probe. */
class StreamingKlSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed per-batch KL equals batch scoring; one full batch equals the registered probe") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).localCheckpoint(true)
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    val model = Corpus.klModelOf(docs.where(!isIncoming)).localCheckpoint(true)
    val incoming = docs.where(isIncoming)
    val rows = incoming.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)

    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "source")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_kl", stream,
      Files.createTempDirectory("graft-skl-").toString)(
      Corpus.klScoreAgainst(model, _)) { (id, out) =>
      batches :+= (id -> out.collect().toSet)
    }
    try {
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      batches.map(_._1) shouldBe Vector(0L, 1L)
      // each batch scored exactly as the batch face scores that slice —
      // the per-batch sample, not a running merge (drift is judged per
      // arrival window). Ints exact; kl_nats within the oracle's 1e-9
      // band (term-wise sums reorder within ~1 ulp across the different
      // physical partitionings of a MemoryStream batch vs a parquet read)
      def keyed(rows: Iterable[Row]): Map[String, (Long, Long, Double)] =
        rows.map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      def sameScores(x: Map[String, (Long, Long, Double)],
                     y: Map[String, (Long, Long, Double)]): Unit = {
        x.keySet shouldBe y.keySet
        x.foreach { case (s, (t, m, k)) =>
          (t, m) shouldBe ((y(s)._1, y(s)._2))
          k shouldBe y(s)._3 +- 1e-9
        }
      }
      Seq(b1, b2).zip(batches).foreach { case (slice, (_, streamed)) =>
        val ids = slice.map(_._1).toSet
        sameScores(keyed(streamed), keyed(Corpus.klScoreAgainst(model,
          incoming.where(col("doc_id").isin(ids.toSeq: _*))).collect().toSeq))
      }
      // the whole incoming split in one shot == the registered probe
      sameScores(
        keyed(Corpus.klScoreAgainst(model, incoming).collect().toSeq),
        keyed(Corpus.klProbe(docs).collect().toSeq))
    } finally q.stop()
  }

  test("a matching batch scores near zero, within-vocab skew scores high, OOV drift shows as coverage collapse") {
    val sp = spark; import sp.implicits._
    // base distribution: 'the' 90%, 'of' 10%
    val base = (0 until 200).map(i =>
      (i.toLong, "the the the the the the the the the of", "web"))
      .toDF("doc_id", "text", "source")
    val model = Corpus.klModelOf(base)
    def score(text: String) = Corpus.klScoreAgainst(model,
      Seq((1000L, text, "web")).toDF("doc_id", "text", "source"))
      .collect().head
    // same mix as the base: near-zero divergence
    score("the the the the the the the the the of")
      .getDouble(3) should (be >= 0.0 and be < 0.1)
    // within-vocab inversion ('of' dominates): strong KL alarm
    score("of of of of of of of of of the").getDouble(3) should be > 1.0
    // OOV drift barely moves a vocab-capped kl_nats by construction — the
    // alarm for it is the coverage column collapsing, not kl_nats
    val oov = score("the zx qv wk jm zx qv wk jm zx")
    oov.getDouble(3) should be < 1.0
    oov.getLong(1) shouldBe 1L // 1 of 10 tokens in vocab: the drift signal
    // the EXTREME case — a batch with zero vocab words — must still emit
    // its row (an inner join to the vocab would silently drop exactly the
    // batch that most needs the alarm): coverage 0, uniform-vs-model KL
    val allOov = score("zx qv wk jm zx qv wk jm zx qv")
    allOov.getLong(1) shouldBe 0L
    allOov.getLong(2) shouldBe 0L
    allOov.getDouble(3) should be >= 0.0
  }

  test("an empty resident snapshot fails loudly at train time (ADVICE r10)") {
    val sp = spark; import sp.implicits._
    // an empty frozen model would silently zero-row every probe —
    // exactly the batches a drift monitor most needs to alarm on
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val ex = intercept[IllegalArgumentException](Corpus.klModelOf(empty))
    ex.getMessage should include("no tokens")
  }
}
