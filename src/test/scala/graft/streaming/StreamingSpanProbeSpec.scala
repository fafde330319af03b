package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Dedup

object StreamingSpanProbeSpec {
  case class Doc(doc_id: Long, text: String)
}

/** The frozen-index span gate ([[Dedup.probeSpans]], batch and on
  * [[StreamingScorer]]): an incoming document lifting a ≥50-token
  * passage from the RESIDENT corpus is flagged with exact span
  * boundaries; fresh text and within-batch-only repetition are not (the
  * decontamination semantic — closed-corpus self-repeats belong to
  * `dedup_span_exact`); and the streamed answer equals the batch probe
  * over the same rows (one shared code path). */
class StreamingSpanProbeSpec extends SparkSpec {
  import StreamingSpanProbeSpec.Doc

  private val K = Dedup.MinSpanTokens

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def uniq(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$tag$i")

  private val block = uniq("res", 60)  // the resident 60-token passage
  private val resident = docsDf(Seq(
    1L -> (uniq("pre", 15) ++ block ++ uniq("post", 10)).mkString(" ")))

  test("an incoming doc lifting a resident 60-token passage is flagged at exact boundaries") {
    val idx = Dedup.buildSpanIndex(resident)
    val incoming = docsDf(Seq(
      10L -> (uniq("a", 20) ++ block ++ uniq("b", 5)).mkString(" "),  // lift at 20..79
      11L -> uniq("fresh", 90).mkString(" ")))                        // fresh: no spans
    val out = Dedup.probeSpans(idx, incoming).collect()
    out.length shouldBe 1
    val r = out(0)
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((10L, 20L, 60L))
    r.getLong(3) shouldBe (60L - K + 1)
  }

  test("within-batch-only repetition does NOT flag — the probe's semantic is resident repeats") {
    val idx = Dedup.buildSpanIndex(resident)
    val selfRep = uniq("own", 55)
    val incoming = docsDf(Seq(
      20L -> (selfRep ++ uniq("gap", 5) ++ selfRep).mkString(" ")))
    Dedup.probeSpans(idx, incoming).count() shouldBe 0L
  }

  test("streamed micro-batch spans equal the batch probe") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val idx = Dedup.buildSpanIndex(resident)
    val lifted = (uniq("a", 20) ++ block ++ uniq("b", 5)).mkString(" ")
    val fresh = uniq("fresh", 90).mkString(" ")
    val in = MemoryStream[Doc]
    var got = Set.empty[(Long, Long, Long, Long)]
    val q = StreamingScorer.run("graft_streaming_span_probe", in.toDF(),
      Files.createTempDirectory("spanp-").toString)(
      Dedup.probeSpans(idx, _)) { (_, spans) =>
      got ++= spans.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    try {
      in.addData(Doc(10L, lifted), Doc(11L, fresh))
      q.processAllAvailable()
      val batch = Dedup.probeSpans(idx,
        docsDf(Seq(10L -> lifted, 11L -> fresh))).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      got shouldBe batch
      got.map(_._1) shouldBe Set(10L)
    } finally q.stop()
  }

  test("registered split face == explicit index+probe composition (testdata)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isIncoming = org.apache.spark.sql.functions.col("doc_id") % Dedup.IncomingMod === 0
    assertSameRows(
      Dedup.spanProbeSplit(docs),
      Dedup.probeSpans(Dedup.buildSpanIndex(docs.where(!isIncoming)),
        docs.where(isIncoming)))
  }

  test("streamed probe against the PERSISTED bucketed index == in-memory index (the 100 TB form)") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val db = "graft_spanidx_stream"
    val warehouse = Files.createTempDirectory("graft-sidxs-").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$warehouse'")
    try {
      Dedup.saveSpanIndex(Dedup.buildSpanIndex(resident), s"$db.spanidx")
      val loaded = Dedup.loadSpanIndex(spark, s"$db.spanidx")
      val lifted = (uniq("a", 20) ++ block ++ uniq("b", 5)).mkString(" ")
      val fresh = uniq("fresh", 90).mkString(" ")
      val in = MemoryStream[Doc]
      var got = Set.empty[(Long, Long, Long, Long)]
      val q = StreamingScorer.run("graft_streaming_span_probe", in.toDF(),
        Files.createTempDirectory("spanps-").toString)(
        Dedup.probeSpans(loaded, _)) { (_, spans) =>
        got ++= spans.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      try {
        in.addData(Doc(10L, lifted), Doc(11L, fresh))
        q.processAllAvailable()
        val batch = Dedup.probeSpans(Dedup.buildSpanIndex(resident),
          docsDf(Seq(10L -> lifted, 11L -> fresh))).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        got shouldBe batch
      } finally q.stop()
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
