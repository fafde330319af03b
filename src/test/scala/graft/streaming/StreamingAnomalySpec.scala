package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.Events

/** Continuous anomaly monitoring: the counter state accumulated over any
  * prefix of the stream scores exactly like the batch
  * [[Events.dailyAnomaly]] over the same rows — including cross-batch
  * re-scoring (a day that looked normal is re-judged as the baseline
  * grows). */
class StreamingAnomalySpec extends SparkSpec {

  private def dus(day: Long, i: Long): Long =
    day * 86400L * 1000000L + i * 1000000L

  // 16 quiet days of 2 'view' events + a 22-event spike on day 16
  // (a lone outlier among n identical days scores z = sqrt(n-1) = 4)
  private val quiet = (0L until 16L).flatMap(d => Seq(
    (d * 10 + 1, dus(d, 1), 1L, "view", 0.0, "{}"),
    (d * 10 + 2, dus(d, 2), 1L, "view", 0.0, "{}")))
  private val spike = (0L until 22L).map(i =>
    (900L + i, dus(16L, i), 1L, "view", 0.0, "{}"))

  test("streamed counters converge to the batch anomaly frame per trigger") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val in = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val monitor = StreamingDailyMonitor.anomaly()
    var emitted = Vector.empty[(Long, Map[(String, Long), (Long, Boolean)])]
    val q = monitor.run(events,
      Files.createTempDirectory("graft-sanomaly-").toString) { (id, scored) =>
      emitted :+= (id -> scored.collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getBoolean(5)))).toMap)
    }
    try {
      // batch 0: only the quiet days — nothing anomalous
      in.addData(quiet)
      q.processAllAvailable()
      // batch 1: the spike day arrives, split across this batch...
      in.addData(spike.take(10))
      q.processAllAvailable()
      // batch 2: ...and this one — counts for day 16 must MERGE, not dup
      in.addData(spike.drop(10))
      q.processAllAvailable()

      emitted.map(_._1) shouldBe Vector(0L, 1L, 2L)
      val after0 = emitted(0)._2
      after0.values.map(_._2).toSet shouldBe Set(false) // flat: no anomaly
      after0(("view", 3L))._1 shouldBe 2L

      // after the partial spike: 10 events on day 16 — already flagged (a
      // lone outlier among n identical days scores sqrt(n-1) = 4 whatever
      // its size); what matters is the count is the batch's 10, not 2x5
      emitted(1)._2(("view", 16L)) shouldBe ((10L, true))

      // after the full spike: day 16 MERGED to 22 (not duplicated), flagged
      emitted(2)._2(("view", 16L)) shouldBe ((22L, true))

      // final frame = batch operator over all rows
      val batch = Events.dailyAnomaly((quiet ++ spike)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      assertSameRows(monitor.scored.get, batch)
    } finally q.stop()
  }

  test("out-of-order arrival: late batches for earlier days merge identically") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double, String)]
    val monitor = StreamingDailyMonitor.anomaly()
    val q = monitor.run(in.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Files.createTempDirectory("graft-sanomaly-").toString) { (_, _) => () }
    try {
      // the spike day arrives FIRST, then the quiet history in reverse
      in.addData(spike)
      q.processAllAvailable()
      in.addData(quiet.reverse)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Events.dailyAnomaly((quiet ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assertSameRows(monitor.scored.get, batch) // counts are additive: order-free
  }

  test("warm restart: a monitor seeded with persisted state continues exactly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    // first monitor sees the quiet days, then "crashes"
    val in1 = MemoryStream[(Long, Long, Long, String, Double, String)]
    val m1 = StreamingDailyMonitor.anomaly()
    val q1 = m1.run(in1.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Files.createTempDirectory("graft-sanomaly-").toString) { (_, _) => () }
    try { in1.addData(quiet); q1.processAllAvailable() } finally q1.stop()

    // persist + reload the counter table (the whole durable state)
    val stateDir = Files.createTempDirectory("graft-sanomaly-state-").toString
    m1.state.get.write.mode("overwrite").parquet(stateDir)
    val restored = spark.read.parquet(stateDir)

    // second monitor continues from the restored state
    val in2 = MemoryStream[(Long, Long, Long, String, Double, String)]
    val m2 = StreamingDailyMonitor.anomaly(initial = Some(restored))
    val q2 = m2.run(in2.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      Files.createTempDirectory("graft-sanomaly-").toString) { (_, _) => () }
    try { in2.addData(spike); q2.processAllAvailable() } finally q2.stop()

    val batch = Events.dailyAnomaly((quiet ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assertSameRows(m2.scored.get, batch)
  }
}
