package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Events

object StreamingSessionsSpec {
  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
}

/** Native session windows: merge within the gap, close at the watermark,
  * emit exactly once, and cover the same events as a batch session. */
class StreamingSessionsSpec extends SparkSpec {
  import StreamingSessionsSpec.Ev

  test("sessions merge within the gap, close on watermark, and match batch grouping") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingSessions.sessionStats(in.toDF())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // one session: 10:00, 10:30 (gap 120min merges them)
      in.addData(
        Ev(ts("2024-01-01 10:00:00"), 7L, "view", 1.0),
        Ev(ts("2024-01-01 10:30:00"), 7L, "error", 2.0))
      q.processAllAvailable()
      // nothing closed yet: watermark still inside the session's gap
      sp.table("sess_out").count() shouldBe 0L

      // an event far past the gap advances the watermark and closes it
      in.addData(Ev(ts("2024-01-02 09:00:00"), 7L, "view", 5.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-03 09:00:00"), 8L, "view", 0.5))
      q.processAllAvailable()

      val rows = sp.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3), r.getLong(4), r.getDouble(5)))
      rows.length shouldBe 2 // user 7's two sessions closed; user 8's still open
      val first = rows.find(_._2 == ts("2024-01-01 10:00:00")).get
      first shouldBe ((7L, ts("2024-01-01 10:00:00"), 2L, 1L, 3.0))
      val second = rows.find(_._2 == ts("2024-01-02 09:00:00")).get
      second shouldBe ((7L, ts("2024-01-02 09:00:00"), 1L, 0L, 5.0))

      // the closed streaming sessions group the same events as batch
      // sessionize does with the same gap: session 1 = events 1,2
      val batchRows = Seq(
        (1L, ts("2024-01-01 10:00:00").getTime * 1000L, 7L, "view", 1.0, "{}"),
        (2L, ts("2024-01-01 10:30:00").getTime * 1000L, 7L, "error", 2.0, "{}"),
        (3L, ts("2024-01-02 09:00:00").getTime * 1000L, 7L, "view", 5.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batch = Events.sessionize(batchRows).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      batch(1L) shouldBe batch(2L) // same session
      batch(3L) should not be batch(1L)
    } finally q.stop()
  }
}
