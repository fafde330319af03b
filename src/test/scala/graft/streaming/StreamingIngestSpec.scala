package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Dedup

/** The production ingest topology, chained end to end: document stream →
  * stateless quality/repetition gate → per-micro-batch dedup probe
  * against the prebuilt corpus index. Gated-out documents never reach
  * the (stateful, more expensive) dedup stage. */
class StreamingIngestSpec extends SparkSpec {

  private val stops = Vector("the", "a", "of", "to", "and", "is")
  // high-quality and ALSO a near-dup of the corpus doc below (shares the
  // long token run; one trailing token differs)
  private val goodBase =
    (1 to 60).flatMap(i => Seq(stops(i % stops.size), s"u$i")).mkString(" ")
  private val goodNearDup = goodBase.dropRight(3) + "zzz"
  private val loopy = Seq.fill(40)("spam").mkString(" ")
  private val junk = "@@@ ### !!!"

  test("gate feeds the dedup probe; gated docs are never probed") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val index = Dedup.buildIndex(Seq(
      (100L, goodBase), (101L, loopy)).toDF("doc_id", "text"))

    val in = MemoryStream[(Long, String)]
    val gated = StreamingCorpusGate.gate(in.toDF().toDF("doc_id", "text"))
    var verdicts = Set.empty[Row]
    val q = StreamingScorer.run("graft_streaming_dedup", gated,
      Files.createTempDirectory("graft-ingest-").toString)(
      Dedup.probeIndex(index, _)) {
      (_, v) => verdicts ++= v.collect()
    }
    try {
      in.addData(
        (1L, goodNearDup), // survives the gate, matches corpus doc 100
        (2L, loopy),       // exact corpus dup BUT repetitive: gated out first
        (3L, junk))        // low quality: gated out
      q.processAllAvailable()

      val byId = verdicts.map(r => r.getLong(0) -> Option(r.get(1))).toMap
      byId.keySet shouldBe Set(1L) // gated docs never reached the probe
      byId(1L) shouldBe Some(100L) // the survivor found its corpus match
    } finally q.stop()
  }
}
