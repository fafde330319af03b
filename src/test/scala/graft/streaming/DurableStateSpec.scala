package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkSpec, TransitFixture}
import graft.engine.Encode
import graft.engine.Schemas.Trip
import graft.operators.TransitQueries
import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef

/** Durability: kill the job between chunks, restart from the same
  * checkpoint, and the final tables still equal the batch
  * answers over ALL rows — counter state (open windows and watermark
  * included) survives, a replayed trigger (foreachBatch is at-least-once)
  * re-runs from the previous state version and re-applies the same
  * absolute values, and no event is double-counted. The file transport stands in for Kafka
  * (MemoryStream cannot resume across restarts). */
class DurableStateSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft-durable-").toString
  private def ref(topic: String) = TopicRef(topic, fallbackDir = Some(root))
  private lazy val ckptDir = s"$root/ckpt"

  private val sentinel =
    Trip("t_sentinel", "r1", "z", "z", null, "P1", ts("2024-01-02 09:00:00"))
  private val sentinel2 =
    Trip("t_sentinel2", "r1", "z", "z", null, "P1", ts("2024-01-03 09:00:00"))

  private def processAll(queries: Seq[StreamingQuery]): Unit =
    queries.foreach(_.processAllAvailable())

  private def startJob(): (TransitStreamingJob, Seq[StreamingQuery]) = {
    val job = TransitStreamingJob.fromTopics(spark, ref("Routes_topic"), ref("Trips_topic"))
    (job, job.startAll(ckptDir))
  }

  test("state survives a restart: final tables equal batch over all rows") {
    val routesT = ref("Routes_topic"); val tripsT = ref("Trips_topic")
    Seq(routesT, tripsT).foreach(StreamAdapters.createTopicIfNotExists(_))

    // -- incarnation 1: first chunk (max event time 10:59:59 — no window
    // closes before the chunk-2 routes arrive, mirroring the parity spec;
    // a cap update after a window closed is the documented non-retroactive
    // staleness, not a durability property)
    StreamAdapters.writeBatchRaw(
      Encode.routesRaw(routesDf(TransitFixture.routes.take(3))), routesT)
    StreamAdapters.writeBatchRaw(
      Encode.tripsRaw(tripsDf(TransitFixture.trips.take(3))), tripsT)
    val (job1, q1s) = startJob()
    try processAll(q1s) finally q1s.foreach(_.stop())
    // sanity: incarnation 1 saw only the first chunk
    job1.store("q9_total_passengers").collect()(0).getLong(0) shouldBe 3L

    // -- produce the rest while the job is DOWN
    StreamAdapters.writeBatchRaw(
      Encode.routesRaw(routesDf(TransitFixture.routes.drop(3))), routesT)
    StreamAdapters.writeBatchRaw(
      Encode.tripsRaw(tripsDf(TransitFixture.trips.drop(3) ++ Seq(sentinel))), tripsT)

    // -- incarnation 2: restored state + resumed offsets
    val (job2, q2s) = startJob()
    try {
      // restored BEFORE processing anything new
      job2.store("q9_total_passengers").collect()(0).getLong(0) shouldBe 3L
      processAll(q2s)
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(Seq(sentinel2))), ref("Trips_topic"))
      processAll(q2s)

      val allRoutes = routesDf(TransitFixture.routes)
      val allTrips = tripsDf(TransitFixture.trips ++ Seq(sentinel, sentinel2))
      def check(table: String, batch: DataFrame): Unit =
        assertSameRows(job2.store(table), batch)

      check("q1_seats_per_route", TransitQueries.q1(allRoutes))
      check("q2_avg_passengers_per_type", TransitQueries.q2(allTrips))
      check("q3_top_passenger", TransitQueries.q3(allTrips))
      check("q4_occupancy_per_route", TransitQueries.q4(allRoutes, allTrips))
      check("q5_passengers_per_route", TransitQueries.q5(allTrips))
      check("q6_least_occupied_route_per_type", TransitQueries.q6(allRoutes, allTrips))
      check("q7_total_capacity", TransitQueries.q7(allRoutes))
      check("q8_total_occupancy_pct", TransitQueries.q8(allRoutes, allTrips))
      check("q9_total_passengers", TransitQueries.q9(allTrips))
      check("q10_top_transport_type", TransitQueries.q10(allTrips))
      check("q11_window_top_type", TransitQueries.q11(allTrips))
      check("q12_window_least_occupied_type", TransitQueries.q12(allRoutes, allTrips))
      check("q13_most_occupied_operator", TransitQueries.q13(allRoutes, allTrips))
      assertSameRows(job2.store("routes_latest"),
        graft.operators.Upsert.latestPerKey(
          allRoutes.filter(col("route_id").isNotNull)
            .select("route_id", "transport_type", "capacity", "operator", "ts"),
          Seq("route_id"), Seq("ts")))
    } finally q2s.foreach(_.stop())

    // -- incarnation 3: restart with NO new data — the tables rebuilt from
    // the state equal the ones the triggers built
    val (job3, q3s) = startJob()
    try {
      val before = job3.store("q9_total_passengers").collect()(0).getLong(0)
      processAll(q3s)
      job3.store("q9_total_passengers").collect()(0).getLong(0) shouldBe before
      assertSameRows(job3.store("q5_passengers_per_route"),
        TransitQueries.q5(tripsDf(TransitFixture.trips ++ Seq(sentinel, sentinel2))))

      // and one more increment still folds exactly once
      StreamAdapters.writeBatchRaw(Encode.tripsRaw(tripsDf(Seq(
        graft.engine.Schemas.Trip("t_extra", "r1", "a", "b", "Bus", "P9",
          ts("2024-01-04 09:00:00"))))), ref("Trips_topic"))
      processAll(q3s)
      job3.store("q9_total_passengers").collect()(0).getLong(0) shouldBe before + 1
    } finally q3s.foreach(_.stop())
  }
}
