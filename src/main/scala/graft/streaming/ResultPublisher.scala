package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Envelope
import graft.sources.StreamAdapters
import graft.sources.StreamAdapters.TopicRef

/** The reference's result egress contract, complete: every query publishes
  * to its own `projeto3_*` topic as a Connect envelope keyed for
  * `pk.mode=record_key` upsert — exact topic names (each
  * `streamFunctions` file's `OUTPUT_TOPIC`), exact record keys (column key
  * or the reference's constant keys, e.g. `"maxTripsPassenger"`,
  * `NamePassengerMostTrips.java:55`), exact camelCase payload field names
  * and int32/int64/double/string tags (each file's schema literal).
  *
  * Faithful quirks: q3 computes the trip count but drops it from the
  * payload (`NamePassengerMostTrips.java:57-58`); q10's payload is the
  * type alone; q11/q12 collapse their window keys to constants
  * (`TransportTypeMaxPassengersWindow.java:75-76`) so the sink table keeps
  * only the latest window — all reproduced as documented.
  */
object ResultPublisher {

  /** One query's egress: target topic, and the rewrite from the engine's
    * snake_case result frame to a `_key` column plus wire-named,
    * wire-typed payload columns. */
  final case class Egress(topic: String, key: Column, payload: Seq[Column])

  /** result-table name → egress spec (all 13; topic names verbatim from
    * the reference). */
  val egress: Map[String, Egress] = Map(
    "q1_seats_per_route" -> Egress("projeto3_available_seats_per_route",
      col("route_id"),
      Seq(col("total_capacity").cast("int").as("totalCapacity"))),
    "q2_avg_passengers_per_type" -> Egress("projeto3_average_passengers_per_transport_types",
      col("transport_type"),
      Seq(col("average_passengers").as("averagePassengers"))),
    "q3_top_passenger" -> Egress("projeto3_most_trips_passenger",
      lit("maxTripsPassenger"),
      Seq(col("passenger_name").as("passengerName"))),
    "q4_occupancy_per_route" -> Egress("projeto3_occupancy_per_route",
      col("route_id"),
      Seq(col("occupancy_pct").as("occupancyPercentage"))),
    "q5_passengers_per_route" -> Egress("projeto3_passengers_per_route",
      col("route_id"),
      Seq(col("passenger_count").as("passengerCount"))),
    "q6_least_occupied_route_per_type" -> Egress("projeto3_route_least_occupancy_per_transport_type",
      col("transport_type"),
      Seq(col("route_id").as("routeId"), col("occupancy_pct").as("occupancy"))),
    "q7_total_capacity" -> Egress("projeto3_total_capacity_available",
      lit("total"),
      Seq(col("total_capacity").cast("int").as("totalCapacity"))),
    "q8_total_occupancy_pct" -> Egress("projeto3_total_occupancy_percentage",
      lit("total"),
      Seq(col("total_occupancy_pct").as("totalOccupancyPercentage"))),
    "q9_total_passengers" -> Egress("projeto3_total_passengers",
      lit("totalPassengers"),
      Seq(col("total_passengers").as("totalPassengers"))),
    "q10_top_transport_type" -> Egress("projeto3_max_transport_type",
      lit("maxPassengersTransportType"),
      Seq(col("transport_type").as("transportType"))),
    "q11_window_top_type" -> Egress("projeto3_max_transport_type_window",
      lit("maxPassengersTransportTypeWindow"),
      Seq(col("transport_type").as("transportType"),
        col("max_passengers").cast("int").as("maxPassengers"))),
    "q12_window_least_occupied_type" -> Egress("projeto3_least_occupied_transport_type_window",
      lit("leastOccupiedTransportType"),
      Seq(col("transport_type").as("transportType"),
        col("occupancy_pct").as("occupancy"))),
    "q13_most_occupied_operator" -> Egress("projeto3_most_occupied_operator",
      lit("most_occupied_operator"),
      Seq(col("operator").as("operator"),
        col("occupancy_pct").as("occupancyPercentage"))),
  )

  /** Rewrite a result frame to the wire shape and wrap it in the envelope:
    * (key string, value envelope-json). */
  def toWire(name: String, result: DataFrame): DataFrame = {
    val e = egress(name)
    Envelope.wrap(result.select((e.key.as("_key") +: e.payload): _*), "_key")
  }

  /** The 13 egress topic names. */
  val egressTopics: Seq[String] = egress.values.map(_.topic).toSeq.sorted

  /** Create every egress topic (idempotent), then publish every maintained
    * result table to its topic — once after a batch run, say. Topics are
    * addressed under `topics`'s transport (Kafka or file fallback). */
  def publishAll(store: TableStore, topics: String => TopicRef): Unit = {
    egressTopics.foreach(t => StreamAdapters.createTopicIfNotExists(topics(t)))
    publishChanged(store, topics, Map.empty); ()
  }

  /** Publish the tables whose version moved since `sent` (table → version
    * last published), each as a whole table appended to its topic, writing
    * the topics concurrently on one thread per core. Over file topics each
    * table is one part file written from the driver, with no Spark job
    * ([[StreamAdapters.writeBatchRaw]]). The topics must exist. Returns
    * the versions now published. The caller serialises calls. */
  def publishChanged(store: TableStore, topics: String => TopicRef,
                     sent: Map[String, Long]): Map[String, Long] = {
    val due = egress.keys.toSeq.sorted.flatMap { name =>
      // the version is read before the rows: a table changed in between
      // is sent again next time, never skipped
      val v = store.version(name)
      store.get(name).filter(_ => !sent.get(name).contains(v)).map(df => (name, v, df))
    }
    if (due.isEmpty) return sent
    // threads are made here, so their jobs carry the caller's local properties
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(due.size, Runtime.getRuntime.availableProcessors()))
    try {
      val writes = due.map { case (name, _, df) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            StreamAdapters.writeBatchRaw(toWire(name, df), topics(egress(name).topic))
          }
        })
      }
      // every write ends before a failure is thrown: none outlives the call
      writes.map(w => scala.util.Try(w.get())).foreach(_.get)
    } finally pool.shutdown()
    sent ++ due.map { case (name, v, _) => name -> v }
  }
}
