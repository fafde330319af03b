package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.TextAnalysis

object StreamingNoveltySpec {
  case class Doc(doc_id: Long, text: String)
}

/** The frozen-index novelty gate: verbatim overlap scores 0, fresh text
  * scores 1, and the streamed answer equals the batch probe over the
  * same rows (one shared code path). */
class StreamingNoveltySpec extends SparkSpec {
  import StreamingNoveltySpec.Doc

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = docsDf(Seq(1L -> "a b c d e f g"))

  test("probe: corpus copies score 0, fresh text scores 1, mixes in between") {
    val idx = TextAnalysis.buildGramIndex(base)
    val out = TextAnalysis.probeNovelty(idx, docsDf(Seq(
      10L -> "a b c d e f g",        // verbatim: every gram indexed
      11L -> "p q r s t u",          // disjoint: nothing indexed
      12L -> "a b c d e x"))).collect()  // 2 slots: 1 seen, 1 fresh
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(10L) shouldBe ((3L, 3L, 0.0))
    out(11L) shouldBe ((2L, 0L, 1.0))
    out(12L) shouldBe ((2L, 1L, 0.5))
  }

  test("streamed micro-batch scores equal the batch probe") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val idx = TextAnalysis.buildGramIndex(base)
    val in = MemoryStream[Doc]
    var got = Map.empty[Long, (Long, Long, Double)]
    val q = StreamingScorer.run("graft_streaming_novelty", in.toDF(),
      Files.createTempDirectory("novl-").toString)(
      TextAnalysis.probeNovelty(idx, _)) { (_, scored) =>
      got ++= scored.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
    }
    try {
      in.addData(Doc(10L, "a b c d e f g"), Doc(11L, "p q r s t u"))
      q.processAllAvailable()
      val batch = TextAnalysis.probeNovelty(idx, docsDf(Seq(
        10L -> "a b c d e f g", 11L -> "p q r s t u"))).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      got shouldBe batch
    } finally q.stop()
  }
}
