package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

object StreamingExactDedupSpec {
  case class Ev(ts: Timestamp, event_id: Long, value: Double)
}

/** Native within-watermark dedup: first arrival passes, redeliveries
  * inside the horizon drop, state evicts past the watermark. */
class StreamingExactDedupSpec extends SparkSpec {
  import StreamingExactDedupSpec.Ev

  test("redeliveries drop within the horizon; state evicts after it") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingExactDedup.dedup(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // first delivery + an in-batch duplicate + a second id
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), 1L, 1.0),
        Ev(ts("2024-01-01 10:00:30"), 1L, 1.0), // broker retry, 30s later
        Ev(ts("2024-01-01 10:00:10"), 2L, 2.0))
      q.processAllAvailable()
      sp.table("dedup_out").count() shouldBe 2L

      // a cross-batch redelivery within the 10-minute horizon: dropped
      in.addData(Ev(ts("2024-01-01 10:05:00"), 1L, 1.0))
      q.processAllAvailable()
      sp.table("dedup_out").count() shouldBe 2L

      // advance the watermark far past id 1's state, then redeliver:
      // the id state was evicted, so the late replay passes through —
      // the documented contract (dedup holds only within the horizon)
      in.addData(Ev(ts("2024-01-01 12:00:00"), 99L, 0.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 11:55:00"), 1L, 1.0))
      q.processAllAvailable()
      val ids = sp.table("dedup_out").collect().map(_.getLong(1))
      ids.count(_ == 1L) shouldBe 2L // one per horizon
      ids.count(_ == 2L) shouldBe 1L
    } finally q.stop()
  }
}
