package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkSpec, TransitFixture}
import graft.engine.Schemas.{Route, Trip}
import graft.operators.{TransitQueries, Upsert}

/** Final-state parity: feed the edge fixture through MemoryStreams in three
  * chunks, then assert every maintained result table equals the batch answer
  * over the same rows — the KTable-converges-to-the-table property the
  * reference relies on. q1 and q5's own edges are in `RouteCountersSpec`. */
class StreamingParitySpec extends SparkSpec {

  // far-future sentinels: the first advances the 0s watermark past every
  // real window, which all close in its trigger; the second closes nothing
  // more. Null type keeps them out of the windowed counts; they still count
  // toward q9 (batch side sees the same rows, so parity holds).
  private val sentinels = Seq(
    Trip("t_sentinel1", "r1", "z", "z", null, "P1", ts("2024-01-02 09:00:00")),
    Trip("t_sentinel2", "r1", "z", "z", null, "P1", ts("2024-01-03 09:00:00")))

  private def runJob(): (TransitStreamingJob, Seq[StreamingQuery]) = {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val routesIn = MemoryStream[Route]
    val tripsIn = MemoryStream[Trip]
    val job = new TransitStreamingJob(spark, routesIn.toDF(), tripsIn.toDF())
    val ckpt = Files.createTempDirectory("graft-stream-").toString
    val queries = job.startAll(ckpt)
    def processAll(): Unit = queries.foreach(_.processAllAvailable())

    // chunk 1: first routes + trips; chunk 2: remaining routes + more trips;
    // chunk 3: the rest + sentinel (route re-emission upserts are covered by
    // StreamingSemanticsSpec — fold queries diverge from the batch oracle by
    // design there)
    routesIn.addData(TransitFixture.routes.take(3))
    tripsIn.addData(TransitFixture.trips.take(3))
    processAll()
    routesIn.addData(TransitFixture.routes.drop(3))
    tripsIn.addData(TransitFixture.trips.slice(3, 6))
    processAll()
    tripsIn.addData(TransitFixture.trips.drop(6) :+ sentinels.head)
    processAll()
    tripsIn.addData(sentinels.last)
    processAll()
    (job, queries)
  }

  private lazy val jobAndQueries = runJob()
  private def store = jobAndQueries._1.store

  private lazy val allRoutes: DataFrame = routesDf(TransitFixture.routes)
  private lazy val allTrips: DataFrame = tripsDf(TransitFixture.trips ++ sentinels)

  private def checkParity(table: String, batch: DataFrame): Unit =
    assertSameRows(store(table), batch)

  test("route counters converge: q1, q5") {
    checkParity("q1_seats_per_route", TransitQueries.q1(allRoutes))
    checkParity("q5_passengers_per_route", TransitQueries.q5(allTrips))
  }

  test("counter-state derivations converge: q2, q4, q6") {
    checkParity("q2_avg_passengers_per_type", TransitQueries.q2(allTrips))
    checkParity("q4_occupancy_per_route", TransitQueries.q4(allRoutes, allTrips))
    checkParity("q6_least_occupied_route_per_type", TransitQueries.q6(allRoutes, allTrips))
  }

  test("running totals converge: q7, q8, q9") {
    checkParity("q7_total_capacity", TransitQueries.q7(allRoutes))
    checkParity("q8_total_occupancy_pct", TransitQueries.q8(allRoutes, allTrips))
    checkParity("q9_total_passengers", TransitQueries.q9(allTrips))
  }

  test("monotone running argmax converges across chunked ties: q3, q10") {
    checkParity("q3_top_passenger", TransitQueries.q3(allTrips))
    checkParity("q10_top_transport_type", TransitQueries.q10(allTrips))
  }

  test("watermarked windowed queries converge: q11, q12") {
    checkParity("q11_window_top_type", TransitQueries.q11(allTrips))
    checkParity("q12_window_least_occupied_type", TransitQueries.q12(allRoutes, allTrips))
  }

  test("q13 and the latest-per-key route table converge") {
    checkParity("q13_most_occupied_operator", TransitQueries.q13(allRoutes, allTrips))
    // routes_latest carries the union-runner's projection (no origin/dest)
    assertSameRows(store("routes_latest"),
      Upsert.latestPerKey(allRoutes.filter(col("route_id").isNotNull)
          .select("route_id", "transport_type", "capacity", "operator", "ts"),
        Seq("route_id"), Seq("ts")))
  }

  test("every query shuts down cleanly") {
    jobAndQueries._2.foreach(_.stop())
    jobAndQueries._2.forall(!_.isActive) shouldBe true
  }
}
