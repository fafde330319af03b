package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Continuous ANN probing: streamed query vectors answered per
  * micro-batch equal the oracle-checked batch query's answers for the
  * same ids, and arrive exactly once per trigger. */
class StreamingAnnProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed probes equal the batch ANN answer, once per trigger") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val corpus = Similarity.annCorpus(spark, sfDir).localCheckpoint(true)
    // the batch query's query set, as rows we can stream in chunks
    val querySet = corpus.where(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

    val in = MemoryStream[(Long, Seq[Double], Double)]
    val queries = in.toDF().toDF("query_id", "qv", "qn")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_ann", queries,
      Files.createTempDirectory("graft-sann-").toString)(
      Similarity.annProbe(corpus, _)) { (id, topk) =>
      batches :+= (id -> topk.collect().toSet)
    }
    try {
      in.addData(querySet.take(4).toSeq)
      q.processAllAvailable()
      in.addData(querySet.drop(4).toSeq)
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L)
      val streamed = batches.flatMap(_._2).toSet
      val batch = Similarity.annLshTopK(spark, sfDir).collect().toSet
      streamed shouldBe batch
    } finally q.stop()
  }
}
