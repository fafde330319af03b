package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.{Decode, Encode}
import graft.engine.Schemas.{Route, Trip}
import graft.operators.TransitQueries
import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef

/** q1 and q5 come from the union runner's per-route counters; on each of
  * their edges they equal the batch `TransitQueries.q1`/`q5` over the same
  * topic files, after every trigger. File topics carry the edges a
  * `MemoryStream[Route]` cannot: a missing capacity. */
class RouteCountersSpec extends SparkSpec {

  test("q1 and q5 match batch on null keys, trip-only routes, null capacities, re-emissions") {
    val root = Files.createTempDirectory("graft-q1q5-").toString
    val Seq(routesT, tripsT) = Seq("Routes_topic", "Trips_topic")
      .map(t => TopicRef(t, fallbackDir = Some(root)))
    Seq(routesT, tripsT).foreach(StreamAdapters.createTopicIfNotExists(_))
    val nullCap = -1 // written as a missing capacity
    def route(id: String, ty: String, cap: Int, at: String) =
      Route(id, "a", "b", ty, cap, "OpA", ts(s"2024-01-01 $at"))
    def trip(id: String, routeId: String, at: String) =
      Trip(id, routeId, "a", "b", "Bus", "P1", ts(s"2024-01-01 $at"))
    val chunks = Seq(
      (Seq(route("r1", "Bus", 100, "09:00:00"), route("r2", "Bus", nullCap, "09:00:01"),
          route("r3", "Taxi", 50, "09:00:02"), route(null, "Bus", 10, "09:00:03")),
        Seq(trip("t1", "r1", "10:00:00"), trip("t2", "r1", "10:01:00"),
          trip("t3", "r3", "10:02:00"), trip("t4", null, "10:03:00"),
          trip("t5", "r9", "10:04:00"))), // r9 never emits
      (Seq(route("r3", "Train", 30, "09:10:00"), // another type: q1 sums both
          route("r2", "Taxi", nullCap, "09:10:01"), route("r1", "Bus", nullCap, "09:10:02"),
          route("r4", "Bus", nullCap, "09:10:03")),
        Seq(trip("t6", "r2", "10:05:00"), trip("t7", null, "10:06:00"),
          trip("t8", "r9", "10:07:00"))),
      (Seq(route("r4", "Train", 20, "09:20:00")), // all-null r4 gains a capacity
        Seq(trip("t9", "r4", "10:08:00"))))

    val job = TransitStreamingJob.fromTopics(spark, routesT, tripsT)
    val queries = job.startAll(s"$root/ckpt")
    try chunks.foreach { case (rs, trs) =>
      StreamAdapters.writeBatchRaw(Encode.routesRaw(routesDf(rs).withColumn("capacity",
        when(col("capacity") =!= nullCap, col("capacity")))).coalesce(1), routesT)
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(trs)).coalesce(1), tripsT)
      queries.foreach(_.processAllAvailable())
      val allRoutes = Decode.routes(StreamAdapters.readBatchRaw(spark, routesT))
      val allTrips = Decode.trips(StreamAdapters.readBatchRaw(spark, tripsT))
      assertSameRows(job.store("q1_seats_per_route"), TransitQueries.q1(allRoutes))
      assertSameRows(job.store("q5_passengers_per_route"), TransitQueries.q5(allTrips))
    } finally queries.foreach(_.stop())
    // the cases the input carries, as the batch queries answer them
    rowSet(job.store("q1_seats_per_route")) shouldBe Set(
      Row("r1", 100L), Row("r2", null), Row("r3", 80L), Row("r4", 20L))
    rowSet(job.store("q5_passengers_per_route")) shouldBe Set(
      Row("r1", 2L), Row("r2", 1L), Row("r3", 1L), Row("r4", 1L), Row("r9", 2L))
  }
}
