package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Events

/** Continuous forecast backtest: the counter state over any stream
  * prefix scores exactly like the batch [[Events.forecastBacktest]] on
  * the same rows — including the cross-batch case where a day's counts
  * split over two triggers and must MERGE before the lag-7 join sees
  * them. */
class StreamingDailyForecastSpec extends SparkSpec {

  private def dus(day: Long, i: Long): Long =
    day * 86400L * 1000000L + i * 1000000L

  // day d carries d+1 'view' events over days 0..13 (the EventsSpec
  // backtest fixture: every scored day errs by exactly 7)
  private def rows(days: Range) = days.flatMap { d =>
    (0L to d.toLong).map(i =>
      (d * 1000 + i, dus(d.toLong, i), i, "view", 0.0, "{}"))
  }

  private def toMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap

  test("streamed counters re-score to the batch backtest; split days merge first") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val in = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val monitor = StreamingDailyMonitor.forecast()
    var emitted = Vector.empty[Map[String, (Long, Double, Double)]]
    val q = monitor.run(events,
      Files.createTempDirectory("graft-sforecast-").toString) { (_, bt) =>
      emitted :+= toMap(bt)
    }
    try {
      // batch 0: the first week only — no day has 7-day history yet
      in.addData(rows(0 until 7))
      q.processAllAvailable()
      emitted(0) shouldBe empty

      // batch 1: days 7..13 arrive, except day 13 is SPLIT: half now...
      val (d13a, d13b) = rows(13 to 13).splitAt(7)
      in.addData(rows(7 until 13) ++ d13a)
      q.processAllAvailable()
      // batch 2: ...half later — day 13's count must merge to 14, err 7
      in.addData(d13b)
      q.processAllAvailable()

      val finalBt = emitted.last
      finalBt("view")._1 shouldBe 7L   // days 7..13 scored
      finalBt("view")._2 shouldBe 7.0  // mae: growth errs by 7 every day
      finalBt("view")._3 shouldBe -7.0 // bias: naive always undershoots

      // parity: identical to the batch operator over the same rows
      val batch = toMap(Events.forecastBacktest(
        rows(0 until 14).toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      finalBt shouldBe batch

      // the mid-split emission shows the danger the merge prevents: after
      // batch 1, day 13 holds only 7 of its 14 events (mae there ≠ 7)
      val mid = emitted(1)("view")
      mid._1 shouldBe 7L
      mid._2 should not be 7.0
    } finally q.stop()
  }

  test("restart warm: a monitor reseeded from persisted state continues exactly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    // first monitor sees the first 13 days, then "crashes"
    val m1 = StreamingDailyMonitor.forecast()
    val in1 = MemoryStream[(Long, Long, Long, String, Double, String)]
    val q1 = m1.run(in1.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Files.createTempDirectory("graft-sforecast2-").toString) { (_, _) => () }
    try { in1.addData(rows(0 until 13)); q1.processAllAvailable() }
    finally q1.stop()
    // reseed from its (persistable) counter state, feed only the tail
    val m2 = StreamingDailyMonitor.forecast(m1.state)
    val in2 = MemoryStream[(Long, Long, Long, String, Double, String)]
    var last = Map.empty[String, (Long, Double, Double)]
    val q2 = m2.run(in2.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Files.createTempDirectory("graft-sforecast3-").toString) { (_, bt) =>
      last = toMap(bt)
    }
    try { in2.addData(rows(13 to 13)); q2.processAllAvailable() }
    finally q2.stop()
    last shouldBe toMap(Events.forecastBacktest(
      rows(0 until 14).toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
  }
}
