package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Dedup

/** Continuous dedup ingestion: per-micro-batch probes against a prebuilt
  * corpus index agree with the batch [[Dedup.probeIndex]] answer, arrive
  * exactly once per batch, and batches are independent. */
class StreamingDedupSpec extends SparkSpec {

  private val corpusText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  // near-dup of corpus doc 100 (9 of 10 tokens, jaccard above 0.7 on
  // 3-shingles after the shared prefix)
  private val nearDup =
    "alpha beta gamma delta epsilon zeta eta theta iota lambda"
  private val unrelated =
    "one two three four five six seven eight nine ten"

  private def corpusDf = {
    val sp = spark; import sp.implicits._
    Seq(
      (100L, corpusText),
      (101L, "red orange yellow green blue indigo violet cyan magenta white"),
      (102L, corpusText)) // exact dup of 100: collapses to rep 100
      .toDF("doc_id", "text")
  }

  test("micro-batch probes match the batch answer and arrive once per batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val index = Dedup.buildIndex(corpusDf)

    val in = MemoryStream[(Long, String)]
    val incoming = in.toDF().toDF("doc_id", "text")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_dedup", incoming,
      Files.createTempDirectory("graft-sdedup-").toString)(
      Dedup.probeIndex(index, _)) {
      (id, verdicts) => batches :+= (id -> verdicts.collect().toSet)
    }
    try {
      in.addData((1L, corpusText), (2L, unrelated))
      q.processAllAvailable()
      in.addData((3L, nearDup))
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L) // one sink call per batch
      val b0 = batches(0)._2.map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
      // exact copy of corpus content matches its min-id representative
      b0(1L)._1 shouldBe Some(100L)
      b0(1L)._2 shouldBe Some(1.0)
      b0(2L) shouldBe ((None, None)) // nothing in the corpus is close

      val b1 = batches(1)._2.map(r => r.getLong(0) -> Option(r.get(1))).toMap
      b1(3L) shouldBe Some(100L) // near-dup found across batches too

      // streaming verdicts = the batch probe of the same documents
      val batchAnswer = Dedup.probeIndex(index,
        Seq((1L, corpusText), (2L, unrelated), (3L, nearDup))
          .toDF("doc_id", "text")).collect().toSet
      (batches(0)._2 ++ batches(1)._2) shouldBe batchAnswer
    } finally q.stop()
  }
}
