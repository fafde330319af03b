package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextAnalysis

/** Continuous tokenization: streamed documents encoded per micro-batch
  * with the frozen persisted merge table equal the batch encoding of the
  * same documents — the full train → save → load → serve lifecycle. */
class StreamingBpeEncodeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed encodings equal the batch answer against the frozen merge table") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    // full model lifecycle: train offline, persist, serve the RELOADED
    // artifact (strings round-trip parquet losslessly)
    val modelDir = Files.createTempDirectory("graft-sbpe-model-").toString
    TextAnalysis.saveMerges(TextAnalysis.bpeMerges(docs), modelDir)
    val merges = TextAnalysis.loadMerges(spark, modelDir).localCheckpoint(true)

    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_bpe", stream,
      Files.createTempDirectory("graft-sbpe-").toString)(
      TextAnalysis.bpeApply(merges, _)) { (id, out) =>
      batches :+= (id -> out.collect().toSet)
    }
    try {
      in.addData(rows.take(100).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(100).toSeq)
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L)
      val streamed = batches.flatMap(_._2).toSet
      val batch = TextAnalysis.bpeApply(merges, docs).collect().toSet
      streamed shouldBe batch
      // every document came back exactly once, genuinely merged
      streamed.map(_.getLong(0)) shouldBe rows.map(_._1).toSet
      val perDoc = streamed.toSeq.map(r => (r.getInt(2).toLong, r.getInt(3).toLong))
      perDoc.map(_._1).sum should be < perDoc.map(_._2).sum
    } finally q.stop()
  }
}
