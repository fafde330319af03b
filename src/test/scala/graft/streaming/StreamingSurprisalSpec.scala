package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.TextAnalysis

object StreamingSurprisalSpec {
  case class Doc(doc_id: Long, text: String)
}

/** The frozen-model surprisal probe: closed-form scores, OOV strictly
  * above in-model vocabulary, and the streamed answer equals the batch
  * probe over the same rows (one shared code path). */
class StreamingSurprisalSpec extends SparkSpec {
  import StreamingSurprisalSpec.Doc

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  // reference corpus: "c" 4x, "r" 2x -> total 6
  private def model = TextAnalysis.buildUnigramModel(
    docsDf(Seq(1L -> "c c c c", 2L -> "r r")))

  test("probe: add-half closed form; OOV scores above any in-model token") {
    val out = TextAnalysis.probeSurprisal(model,
      docsDf(Seq(10L -> "c r", 11L -> "zzz"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val nll = (f: Double) => math.log(6.5) - math.log(f + 0.5)
    out(10L)._1 shouldBe 2L
    out(10L)._2 shouldBe ((nll(4) + nll(2)) / 2) +- 1e-12
    out(11L)._2 shouldBe nll(0) +- 1e-12
    out(11L)._3 shouldBe math.exp(nll(0)) +- 1e-12
    // OOV is the most surprising token possible under the model
    out(11L)._2 should be > out(10L)._2
  }

  // bigram reference corpus: "a b" 1x, "a c" 1x -> uni a:2 b:1 c:1, total 4
  private def bmodel = TextAnalysis.buildBigramModel(
    docsDf(Seq(1L -> "a b", 2L -> "a c")))

  test("bigram probe: conditional closed form, unigram backoff on OOV history") {
    val out = TextAnalysis.probeBigramSurprisal(bmodel,
      docsDf(Seq(10L -> "a b x", 11L -> "z c"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val uniNll = (f: Double) => math.log(4.5) - math.log(f + 0.5)
    val biNll = (hf: Double, bf: Double) => math.log(hf + 0.5) - math.log(bf + 0.5)
    // "a b x": a first-token unigram(2); b after in-model a -> bi(2,1);
    // x after in-model b -> unseen continuation bi(1,0)
    out(10L)._1 shouldBe 3L
    out(10L)._2 shouldBe ((uniNll(2) + biNll(2, 1) + biNll(1, 0)) / 3) +- 1e-12
    // "z c": z first-token OOV unigram(0); c after OOV history z -> BACKOFF
    // to unigram(1), not the bigram branch
    out(11L)._2 shouldBe ((uniNll(0) + uniNll(1)) / 2) +- 1e-12
    // context sharpness: "c a" reverses an attested pair — same unigram
    // multiset as in-model text, but the model must find it more
    // surprising than the attested "a c"
    val order = TextAnalysis.probeBigramSurprisal(bmodel,
      docsDf(Seq(20L -> "a c", 21L -> "c a"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    order(21L) should be > order(20L)
  }

  test("bigram streamed micro-batch scores equal the batch probe") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val m = bmodel
    val in = MemoryStream[Doc]
    var got = Map.empty[Long, (Long, Double)]
    val q = StreamingScorer.run("graft_streaming_bigram_surprisal", in.toDF(),
      Files.createTempDirectory("bisurp-").toString)(
      TextAnalysis.probeBigramSurprisal(m, _)) { (_, scored) =>
      got ++= scored.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
    }
    try {
      in.addData(Doc(10L, "a b x"), Doc(11L, "z c"))
      q.processAllAvailable()
      val batch = TextAnalysis.probeBigramSurprisal(m,
        docsDf(Seq(10L -> "a b x", 11L -> "z c")))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("streamed micro-batch scores equal the batch probe, once per batch") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val m = model
    val in = MemoryStream[Doc]
    var got = Map.empty[Long, (Long, Double)]
    var batches = 0
    val q = StreamingScorer.run("graft_streaming_surprisal", in.toDF(),
      Files.createTempDirectory("surp-").toString)(
      TextAnalysis.probeSurprisal(m, _)) { (_, scored) =>
      batches += 1
      got ++= scored.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
    }
    try {
      in.addData(Doc(10L, "c r"), Doc(11L, "zzz"))
      q.processAllAvailable()
      val batch = TextAnalysis.probeSurprisal(m, docsDf(Seq(10L -> "c r", 11L -> "zzz")))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      got shouldBe batch
      batches shouldBe 1
    } finally q.stop()
  }
}
