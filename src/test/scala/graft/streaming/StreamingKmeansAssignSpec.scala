package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Continuous cluster assignment: streamed vectors routed per
  * micro-batch against the frozen trained centroids equal the batch
  * assignment of the same vectors, and every cluster id is a trained
  * centroid. */
class StreamingKmeansAssignSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed assignments equal the batch answer against frozen centroids") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val vs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    // the full model lifecycle: train offline, persist, serve the RELOADED
    // artifact (bit-exact round trip: parquet doubles are lossless)
    val modelDir = Files.createTempDirectory("graft-skm-model-").toString
    Similarity.saveCentroids(Similarity.kmeansCentroids(vs), modelDir)
    val centroids = Similarity.loadCentroids(spark, modelDir).localCheckpoint(true)

    val rows = vs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val stream = in.toDF().toDF("vec_id", "v")
    var batches = Vector.empty[(Long, Set[Row])]
    val q = StreamingScorer.run("graft_streaming_kmeans", stream,
      Files.createTempDirectory("graft-skm-").toString)(
      Similarity.kmeansProbe(centroids, _)) { (id, out) =>
      batches :+= (id -> out.collect().toSet)
    }
    try {
      in.addData(rows.take(100).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(100).toSeq)
      q.processAllAvailable()

      batches.map(_._1) shouldBe Vector(0L, 1L)
      val streamed = batches.flatMap(_._2).toSet
      val batch = Similarity.kmeansProbe(centroids, vs).collect().toSet
      streamed shouldBe batch
      // every routed vector landed on a trained centroid, exactly once
      streamed.map(_.getLong(0)) shouldBe rows.map(_._1).toSet
      val cents = centroids.collect().map(_.getLong(0)).toSet
      streamed.map(_.getLong(1)).subsetOf(cents) shouldBe true
    } finally q.stop()
  }
}
