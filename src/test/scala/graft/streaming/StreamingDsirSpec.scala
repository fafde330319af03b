package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Corpus

/** Continuous DSIR scoring: streamed documents weighed per micro-batch
  * with the frozen persisted bucket model equal the batch scoring of the
  * same documents — the full train → save → load → serve lifecycle. */
class StreamingDsirSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed weights equal the batch answer against the frozen bucket model") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang")).localCheckpoint(true)
    val modelDir = Files.createTempDirectory("graft-sdsir-model-").toString
    Corpus.saveDsirModel(
      Corpus.dsirModel(docs, col("lang") === Corpus.DsirTargetLang), modelDir)
    val model = Corpus.loadDsirModel(spark, modelDir).localCheckpoint(true)

    val scoreIn = docs.select(col("doc_id"), col("text"))
    val rows = scoreIn.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_dsir", stream,
      Files.createTempDirectory("graft-sdsir-").toString)(
      Corpus.dsirScore(model, _)) { (id, out) =>
      batches :+= (id -> out.collect().toSet)
    }
    try {
      in.addData(rows.take(200).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(200).toSeq)
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L)
      val streamed = batches.flatMap(_._2).toSet
      val batch = Corpus.dsirScore(model, scoreIn).collect().toSet
      streamed shouldBe batch
      streamed.map(_.getLong(0)) shouldBe rows.map(_._1).toSet
    } finally q.stop()
  }

  test("frozen-model scoring matches the registered self-scored query bit for bit") {
    // the registered corpus_dsir_weights trains and scores in one plan;
    // dsirScore against the separately trained model must produce the
    // same weights (shared arithmetic, LEFT-join attach degenerating to
    // inner on a full-coverage model)
    val sp = spark
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val viaQuery = Corpus.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val viaModel = Corpus.dsirScore(
      Corpus.dsirModel(docs, col("lang") === Corpus.DsirTargetLang),
      docs.select(col("doc_id"), col("text"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    viaModel.keySet shouldBe viaQuery.keySet
    viaModel.foreach { case (id, (nf, w)) =>
      nf shouldBe viaQuery(id)._1
      w shouldBe viaQuery(id)._2 +- 1e-9
    }
  }
}
