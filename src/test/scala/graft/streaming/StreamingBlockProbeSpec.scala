package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Multimodal

object StreamingBlockProbeSpec {
  case class Doc(doc_id: Long, text: String)
}

/** The frozen-index binary block gate ([[Multimodal.probeBlocks]], batch
  * and on [[StreamingScorer]]): a verbatim re-upload scores 1.0, fresh
  * content 0.0, a half-resident payload in between, and the streamed
  * answer equals the batch probe over the same rows. Block grain =
  * [[Multimodal.BlockHexChars]] hex chars = 16 payload bytes. */
class StreamingBlockProbeSpec extends SparkSpec {
  import StreamingBlockProbeSpec.Doc

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  // 4 blocks of 16 ASCII bytes each — block boundaries land exactly
  private val resident16s = Seq("aaaaaaaaaaaaaaaa", "bbbbbbbbbbbbbbbb",
    "cccccccccccccccc", "dddddddddddddddd")
  private val residentText = resident16s.mkString
  private val base = {
    val sp = spark; import sp.implicits._
    Seq(1L -> residentText).toDF("doc_id", "text")
  }

  test("probe: re-upload scores 1.0, fresh 0.0, half-resident 0.5") {
    val idx = Multimodal.buildBlockIndex(base)
    val out = Multimodal.probeBlocks(idx, docsDf(Seq(
      10L -> residentText,                                      // verbatim
      11L -> "pppppppppppppppp" * 4,                            // fresh (1 distinct block)
      12L -> (resident16s(0) + resident16s(1) +
        "qqqqqqqqqqqqqqqq" + "rrrrrrrrrrrrrrrr")))).collect()   // 2 of 4 resident
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(10L) shouldBe ((4L, 4L, 1.0))
    out(11L) shouldBe ((1L, 0L, 0.0))
    out(12L) shouldBe ((4L, 2L, 0.5))
  }

  test("streamed micro-batch scores equal the batch probe") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val idx = Multimodal.buildBlockIndex(base)
    val in = MemoryStream[Doc]
    var got = Map.empty[Long, (Long, Long, Double)]
    val q = StreamingScorer.run("graft_streaming_block_probe", in.toDF(),
      Files.createTempDirectory("blkp-").toString)(
      Multimodal.probeBlocks(idx, _)) { (_, scored) =>
      got ++= scored.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
    }
    try {
      in.addData(Doc(10L, residentText), Doc(11L, "pppppppppppppppp" * 4))
      q.processAllAvailable()
      val batch = Multimodal.probeBlocks(idx, docsDf(Seq(
        10L -> residentText, 11L -> "pppppppppppppppp" * 4))).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("an empty payload carries zero blocks — no phantom h32(\"\") row on either face") {
    val idx = Multimodal.buildBlockIndex(base)
    // unguarded, Spark's sequence(0, ceil(0/32)-1) fabricates one block
    // for the empty hex string while the oracle's range(0) is empty
    Multimodal.probeBlocks(idx, docsDf(Seq(30L -> ""))).count() shouldBe 0L
    Multimodal.buildBlockIndex(docsDf(Seq(1L -> ""))).count() shouldBe 0L
  }

  test("registered split face == explicit index+probe composition (testdata)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isIncoming = org.apache.spark.sql.functions.col("doc_id") % graft.operators.Dedup.IncomingMod === 0
    assertSameRows(
      Multimodal.blockProbeSplit(docs),
      Multimodal.probeBlocks(Multimodal.buildBlockIndex(docs.where(!isIncoming)),
        docs.where(isIncoming)))
  }

  test("streamed probe against the PERSISTED bucketed index == in-memory index (the 100 TB form)") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val db = "graft_blockidx_stream"
    val warehouse = Files.createTempDirectory("graft-bkidxs-").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$warehouse'")
    try {
      Multimodal.saveBlockIndex(Multimodal.buildBlockIndex(base), s"$db.blockidx")
      val loaded = Multimodal.loadBlockIndex(spark, s"$db.blockidx")
      val in = MemoryStream[Doc]
      var got = Map.empty[Long, (Long, Long, Double)]
      val q = StreamingScorer.run("graft_streaming_block_probe", in.toDF(),
        Files.createTempDirectory("blkps-").toString)(
        Multimodal.probeBlocks(loaded, _)) { (_, scored) =>
        got ++= scored.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      }
      try {
        in.addData(Doc(10L, residentText), Doc(11L, "pppppppppppppppp" * 4))
        q.processAllAvailable()
        val batch = Multimodal.probeBlocks(Multimodal.buildBlockIndex(base),
          docsDf(Seq(10L -> residentText, 11L -> "pppppppppppppppp" * 4))).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        got shouldBe batch
      } finally q.stop()
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
