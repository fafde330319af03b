package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.engine.Schemas.{Route, Trip}

/** Event-time and upsert semantics the batch oracle cannot test:
  * zero-grace late-data drop (`TransportTypeMaxPassengersWindow.java:32`,
  * `ofSizeAndGrace(1h, ZERO)`) and latest-per-key route re-emission
  * (`MostOccupiedOperator.java:56-68` toTable). */
class StreamingSemanticsSpec extends SparkSpec {

  private def newJob(): (MemoryStream[Route], MemoryStream[Trip],
                         TransitStreamingJob, Seq[StreamingQuery]) = {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val routesIn = MemoryStream[Route]
    val tripsIn = MemoryStream[Trip]
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF())
    val queries = job.startAll(Files.createTempDirectory("graft-sem-").toString)
    (routesIn, tripsIn, job, queries)
  }

  private def processAll(queries: Seq[StreamingQuery]): Unit =
    queries.foreach(_.processAllAvailable())

  private def trip(id: String, t: String, typ: String = "Bus"): Trip =
    Trip(id, "r1", "a", "b", typ, "P1", ts(t))

  test("zero-grace watermark: late event for a closed window is dropped " +
       "from windowed counts but still reaches the global count") {
    val (_, tripsIn, job, queries) = newJob()
    try {
      // window w10 = [10:00, 11:00)
      tripsIn.addData(trip("t1", "2024-01-01 10:10:00"),
                      trip("t2", "2024-01-01 10:20:00"))
      processAll(queries)
      // advance event time past w10's end; w10 finalizes at 2 Bus trips
      tripsIn.addData(trip("t3", "2024-01-01 11:05:00"))
      processAll(queries)
      tripsIn.addData(trip("t4", "2024-01-01 12:30:00"))
      processAll(queries)
      val afterClose = job.store("window_type_counts")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      afterClose(("2024-01-01 10:00:00.0", "Bus")) shouldBe 2L

      // late event inside closed w10: dropped by the engine (grace 0)
      tripsIn.addData(trip("t_late", "2024-01-01 10:30:00"))
      processAll(queries)
      val afterLate = job.store("window_type_counts")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      afterLate(("2024-01-01 10:00:00.0", "Bus")) shouldBe 2L // unchanged

      // but the non-windowed global count keeps it (reference: only the two
      // windowed queries use windows; Q9 counts every record)
      job.store("q9_total_passengers").collect()(0).getLong(0) shouldBe 5L
    } finally queries.foreach(_.stop())
  }

  test("route re-emission: latest-per-key table keeps the newest row and " +
       "q13 uses upsert (intended) semantics, not the double-counting fold") {
    val (routesIn, tripsIn, job, queries) = newJob()
    try {
      routesIn.addData(Route("r1", "a", "b", "Bus", 100, "OpA", ts("2024-01-01 09:00:00")),
                       Route("r2", "a", "b", "Bus", 50, "OpB", ts("2024-01-01 09:00:01")))
      tripsIn.addData(trip("t1", "2024-01-01 10:00:00"),
                      Trip("t2", "r2", "a", "b", "Bus", "P2", ts("2024-01-01 10:01:00")))
      processAll(queries)
      // r1 capacity update 100 -> 20, operator change OpA -> OpC
      routesIn.addData(Route("r1", "a", "b", "Bus", 20, "OpC", ts("2024-01-01 09:30:00")))
      processAll(queries)

      // routes_latest schema: route_id, transport_type, capacity, operator, ts
      val latest = job.store("routes_latest").collect()
        .map(r => r.getString(0) -> ((r.getInt(2), r.getString(3)))).toMap
      latest("r1") shouldBe ((20, "OpC"))
      latest("r2") shouldBe ((50, "OpB"))

      // q13 from the latest table: OpC 1/20=5%, OpB 1/50=2% -> OpC.
      // (The reference's fold would still credit OpA and sum 100+20.)
      val q13 = job.store("q13_most_occupied_operator").collect()(0)
      q13.getString(0) shouldBe "OpC"
      q13.getDouble(1) shouldBe 5.0 +- 1e-12

      // q1 stays a stream-fold like the reference's aggregate: 100+20
      val q1 = job.store("q1_seats_per_route").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      q1("r1") shouldBe 120L
    } finally queries.foreach(_.stop())
  }

  test("results are exposed through the Connect envelope with correct tags") {
    val (routesIn, _, job, queries) = newJob()
    try {
      routesIn.addData(Route("r1", "a", "b", "Bus", 100, "OpA", ts("2024-01-01 09:00:00")))
      processAll(queries)
      val wrapped = graft.engine.Envelope
        .wrap(job.store("q1_seats_per_route"), "route_id").collect()
      wrapped.length shouldBe 1
      wrapped(0).getString(0) shouldBe "r1"
      wrapped(0).getString(1) should include ("""{"field":"total_capacity","type":"int64"}""")
      wrapped(0).getString(1) should include (""""payload":{"total_capacity":100}""")
    } finally queries.foreach(_.stop())
  }
}
