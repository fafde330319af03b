package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Events

object StreamingHoppingSpec {
  case class Ev(ts: Timestamp, event_type: String, value: Double)
}

/** Hopping windows close on the watermark and agree with the batch
  * face's window assignment and aggregates. */
class StreamingHoppingSpec extends SparkSpec {
  import StreamingHoppingSpec.Ev

  test("closed hopping windows match the batch face cell for cell") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingHopping.hoppingCounts(in.toDF())
      .writeStream.format("memory").queryName("hop_out")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), "view", 1.0),
        Ev(ts("2024-01-01 10:20:00"), "view", 2.0),
        Ev(ts("2024-01-01 10:20:00"), "error", 4.0))
      q.processAllAvailable()
      // advance the watermark far past every hop of the 10:00 hour
      in.addData(Ev(ts("2024-01-02 09:00:00"), "view", 0.0))
      q.processAllAvailable()

      val streamed = sp.table("hop_out").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap

      // batch face on the same rows (ts as epoch-micros longs)
      val batchRows = Seq(
        (1L, ts("2024-01-01 10:00:00"), "view", 1.0),
        (2L, ts("2024-01-01 10:20:00"), "view", 2.0),
        (3L, ts("2024-01-01 10:20:00"), "error", 4.0))
        .map { case (id, t, ty, v) => (id, t.getTime * 1000L, 7L, ty, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batch = Events.hoppingCounts(batchRows).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap

      // every batch cell closed and matches; the late 09:00 event's own
      // windows are still open, so streamed may be missing only those
      batch.foreach { case (cell, agg) => streamed(cell) shouldBe agg }
      // 4 hops x view windows spanning 10:00 and 10:20 plus error cells
      batch.size shouldBe (5 + 4) // view: starts {9:15..10:15}=5; error: 4
    } finally q.stop()
  }
}
