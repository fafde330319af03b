package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Continuous BQ probing: streamed query vectors answered per micro-batch
  * through [[Similarity.probeHamming]] equal the oracle-checked
  * `sim_bq_probe` batch answers for the same ids, once per trigger — and
  * the SAME holds when the index side is a [[Similarity.saveBqIndex]]'d
  * table reopened via [[Similarity.loadBqIndex]] (the persisted serving
  * tier), completing the streamed==batch contract every other index
  * family carries (the MinHash, span, block and ANN probes on
  * [[StreamingScorer]]). */
class StreamingHammingProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def corpusSplit = Similarity.annCorpus(spark, sfDir)
    .where(col("vec_id") >= Similarity.NumQueryVectors)

  private def querySet: Array[(Long, Seq[Double], Double)] =
    Similarity.annCorpus(spark, sfDir)
      .where(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  private def streamAgainst(index: Similarity.BqIndex): Unit = {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val qs = querySet
    val in = MemoryStream[(Long, Seq[Double], Double)]
    val queries = in.toDF().toDF("query_id", "qv", "qn")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_bq", queries,
      Files.createTempDirectory("graft-sbq-").toString)(
      Similarity.probeHamming(index, _)) { (id, topk) =>
      batches :+= (id -> topk.collect().toSet)
    }
    try {
      in.addData(qs.take(4).toSeq)
      q.processAllAvailable()
      in.addData(qs.drop(4).toSeq)
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L)
      val streamed = batches.flatMap(_._2).toSet
      val batch = Similarity.bqProbe(spark, sfDir).collect().toSet
      streamed shouldBe batch
    } finally q.stop()
  }

  test("streamed probes equal the batch BQ answer, once per trigger") {
    streamAgainst(Similarity.buildBqIndex(corpusSplit))
  }

  test("streamed probes against a persisted, reopened BQ index equal " +
    "the batch answer") {
    val tables = Seq("sbqspec_bq", "sbqspec_vec")
    Similarity.saveBqIndex(Similarity.buildBqIndex(corpusSplit), "sbqspec")
    try streamAgainst(Similarity.loadBqIndex(spark, "sbqspec"))
    finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
