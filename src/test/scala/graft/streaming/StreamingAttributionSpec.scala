package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The stream⋈stream interval join: every purchase pairs with the same
  * user's clicks inside the horizon, matched pairs emit exactly once in
  * append mode, cross-user and out-of-horizon pairs never appear, and
  * the STREAMED answer equals the same function applied to the same
  * rows as batch frames (watermarks are batch no-ops). */
object StreamingAttributionSpec {
  case class Click(user_id: String, ts: Timestamp, value: Double)
  case class Purchase(event_id: String, user_id: String, ts: Timestamp)
}

class StreamingAttributionSpec extends SparkSpec {
  import StreamingAttributionSpec.{Click, Purchase}

  private val clicks = Seq(
    Click("u1", ts("2024-01-01 09:30:00"), 1.0),  // outside the 1h horizon
    Click("u1", ts("2024-01-01 10:00:00"), 5.0),  // in
    Click("u1", ts("2024-01-01 10:30:00"), 7.0),  // in
    Click("u2", ts("2024-01-01 10:40:00"), 9.0))  // other user
  private val purchases = Seq(
    Purchase("p1", "u1", ts("2024-01-01 10:45:00")),
    Purchase("p2", "u3", ts("2024-01-01 11:00:00"))) // user with no clicks

  private val expected = Set(
    ("p1", "u1", ts("2024-01-01 10:00:00"), 5.0),
    ("p1", "u1", ts("2024-01-01 10:30:00"), 7.0))

  private def asSet(rows: Array[Row]): Set[(String, String, Timestamp, Double)] =
    rows.map(r => (r.getString(0), r.getString(1),
      r.getTimestamp(3), r.getDouble(4))).toSet

  test("streamed interval-join pairs equal the batch answer, exactly once") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val cIn = MemoryStream[Click]
    val pIn = MemoryStream[Purchase]
    val out = graft.operators.Events.attributionPairs(cIn.toDF(), pIn.toDF())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attrib_pairs")
      .option("checkpointLocation", Files.createTempDirectory("attrib-").toString)
      .start()
    try {
      cIn.addData(clicks: _*)
      pIn.addData(purchases: _*)
      q.processAllAvailable()
      asSet(spark.table("attrib_pairs").collect()) shouldBe expected

      // replaying nothing new emits nothing new (append mode, exactly once)
      q.processAllAvailable()
      spark.table("attrib_pairs").count() shouldBe 2L
    } finally q.stop()

    // the SAME function over batch frames gives the same rows
    val batch = graft.operators.Events.attributionPairs(clicks.toDF(), purchases.toDF())
    asSet(batch.collect()) shouldBe expected
  }

  test("join state is bounded: watermark evicts clicks beyond the horizon") {
    val sp = spark; import sp.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val cIn = MemoryStream[Click]
    val pIn = MemoryStream[Purchase]
    val out = graft.operators.Events.attributionPairs(cIn.toDF(), pIn.toDF())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attrib_state")
      .option("checkpointLocation", Files.createTempDirectory("attrib-st-").toString)
      .start()
    try {
      // 3 days of hourly clicks, purchases trailing each — watermark
      // advances day over day; state must hold ~horizon, not ~history
      (1 to 3).foreach { d =>
        val day = f"2024-01-0$d"
        cIn.addData((0 until 12).map(h =>
          Click("u1", ts(f"$day ${h}%02d:10:00"), h.toDouble)): _*)
        pIn.addData(Purchase(s"p$d", "u1", ts(f"$day 11:30:00")))
        q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      info(s"join state rows after 36 clicks/3 purchases: $stateRows")
      // bounded by the in-horizon tail, far below the 39 events seen
      stateRows should be < 39L
      stateRows should be <= 8L
      // and the per-day purchase matched only its in-horizon clicks:
      // purchase 11:30, horizon 1h -> [10:30, 11:30] holds only the
      // 11:10 click (value 11.0)
      val d1 = spark.table("attrib_state").collect()
        .filter(_.getString(0) == "p1").map(_.getDouble(4)).sorted
      d1 shouldBe Array(11.0)
    } finally q.stop()
  }
}
