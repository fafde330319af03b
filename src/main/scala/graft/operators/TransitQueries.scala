package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Tables.transitWith

/** The reference's 13 analytics queries (`MainStreamApp.java:22-34`),
  * re-expressed Spark-first over the transit views in [[Tables]].
  *
  * Design notes (SURVEY.md §2.1 quirks, §7.3):
  *   - running argmax/argmin folds become exact `min_by`/`max_by`/top-1
  *     (retractable, recomputed per trigger) — strictly more correct than the
  *     reference's non-retractable folds;
  *   - q12 implements the *intended* "least occupied" (the reference keeps the
  *     latest value instead, `LeastOccupiedTransportTypeWindow.java:92`);
  *   - q13 implements the *intended* per-operator passenger sum (the reference
  *     keeps the last-updated route's count, `MostOccupiedOperator.java:109`);
  *   - all argmax/argmin outputs are made deterministic with explicit
  *     tiebreaks on the grouping value.
  *
  * Every aggregate is expressed so Catalyst plans partial (map-side)
  * aggregation before the shuffle; global top-1 queries use sort+limit(1)
  * which plans as TakeOrderedAndProject (per-partition top-1, no full sort).
  */
object TransitQueries {

  private def routesOf(s: SparkSession, d: String) = Tables.routes(s, d)
  private def tripsOf(s: SparkSession, d: String)  = Tables.trips(s, d)

  private val zeroD = lit(0.0)

  /** passengers/capacity*100 with the reference's null/zero guards
    * (`OccupancyPerRoute.java:62-63`). */
  private[graft] def occupancyPct(cnt: Column, cap: Column): Column =
    when(cap.isNull || cap === 0 || cnt.isNull, zeroD)
      .otherwise(cnt.cast("double") * 100 / cap)

  // ==== DataFrame-core ======================================================
  // Each query is a pure function of the `routes` / `trips` views (schema in
  // graft.sources.Tables / graft.engine.Schemas). The same core serves the
  // batch wrappers below, the Structured Streaming runner
  // (graft.streaming.TransitStreamingJob), and hand-written-row unit tests.

  /** Q1 — total capacity per route (`AvailableSeatsPerRoute.java:36-42`;
    * despite the name, passengers are never subtracted). */
  def q1(routes: DataFrame): DataFrame =
    routes
      .filter(col("route_id").isNotNull)
      .groupBy("route_id")
      .agg(sum("capacity").as("total_capacity"))

  /** Q2 — avg passengers per route, per transport type = count(trips) /
    * count-distinct(route) (`AveragePassengersPerTransportType.java:37-58`). */
  def q2(trips: DataFrame): DataFrame =
    trips
      .filter(col("transport_type").isNotNull && col("route_id").isNotNull)
      .groupBy("transport_type")
      .agg((count(lit(1)).cast("double") / countDistinct("route_id"))
        .as("average_passengers"))

  /** Q2, sketch variant — `approx_count_distinct` (HyperLogLog++) in place
    * of the exact distinct: the 100 TB path when route cardinality per type
    * is huge (SURVEY §7.3 "100 TB design rule"). Fixed-size sketch per
    * group instead of a distinct-shuffle; rsd pinned to 2% (Spark's
    * default is 5%). Not oracle-registered (sketches are engine-specific);
    * the spec bounds its deviation from exact [[q2]]. */
  def q2Approx(trips: DataFrame): DataFrame =
    trips
      .filter(col("transport_type").isNotNull && col("route_id").isNotNull)
      .groupBy("transport_type")
      .agg((count(lit(1)).cast("double") /
          approx_count_distinct(col("route_id"), rsd = 0.02))
        .as("average_passengers"))

  /** Q3 — passenger with the most trips, global argmax
    * (`NamePassengerMostTrips.java:28-51`). Deterministic tiebreak: smallest
    * name. The count is also emitted (the reference computes then drops it,
    * `NamePassengerMostTrips.java:57-58`). */
  def q3(trips: DataFrame): DataFrame =
    trips
      .filter(col("passenger_name").isNotNull)
      .groupBy("passenger_name")
      .agg(count(lit(1)).as("trip_count"))
      .orderBy(col("trip_count").desc, col("passenger_name").asc)
      .limit(1)

  /** Capacity-per-route LEFT JOIN trip-count-per-route → occupancy %
    * (`OccupancyPerRoute.java:43-66`). Shared by Q4/Q6. */
  def routeOccupancy(routes: DataFrame, trips: DataFrame): DataFrame = {
    val cap = routes.filter(col("route_id").isNotNull)
      .groupBy("route_id", "transport_type")
      .agg(sum("capacity").as("cap"))
    val pas = trips.filter(col("route_id").isNotNull)
      .groupBy("route_id").agg(count(lit(1)).as("cnt"))
    cap.join(pas, Seq("route_id"), "left")
      .select(col("route_id"), col("transport_type"),
        occupancyPct(col("cnt"), col("cap")).as("occupancy_pct"))
  }

  /** Q4 — occupancy % per route (`OccupancyPerRoute.java:43-66`). */
  def q4(routes: DataFrame, trips: DataFrame): DataFrame =
    routeOccupancy(routes, trips).select("route_id", "occupancy_pct")

  /** Q5 — trip (passenger) count per route (`PassengersPerRoute.java:37-40`). */
  def q5(trips: DataFrame): DataFrame =
    trips
      .filter(col("route_id").isNotNull)
      .groupBy("route_id")
      .agg(count(lit(1)).as("passenger_count"))

  /** Q6 — route with least occupancy per transport type
    * (`RouteWithLeastOccupancyPerTransportType.java:34-85`). `min_by` over a
    * (occupancy, route_id) ordering struct: exact per-group argmin with
    * map-side partial aggregation, deterministic tiebreak. */
  def q6(routes: DataFrame, trips: DataFrame): DataFrame =
    routeOccupancy(routes, trips)
      .groupBy("transport_type")
      .agg(min_by(struct(col("route_id"), col("occupancy_pct")),
                  struct(col("occupancy_pct"), col("route_id"))).as("m"))
      .select(col("transport_type"), col("m.route_id").as("route_id"),
        col("m.occupancy_pct").as("occupancy_pct"))

  /** Q7 — global capacity sum (`TotalCapacityAvailable.java:35-57`; the
    * adder/subtractor pair collapses to one sum — SURVEY.md §7.3). Null-key
    * routes are dropped: the reference's first-level `groupBy(routeId)`
    * silently drops null-key records (Kafka Streams repartition semantics). */
  def q7(routes: DataFrame): DataFrame =
    routes.filter(col("route_id").isNotNull).agg(sum("capacity").as("total_capacity"))

  /** Q8 — global occupancy % (`TotalOccupancyPercentage.java:65-99`; cap side
    * groups by routeId first, dropping null keys like Q7). */
  def q8(routes: DataFrame, trips: DataFrame): DataFrame = {
    val cap = routes.filter(col("route_id").isNotNull).agg(sum("capacity").as("cap"))
    val pas = trips.agg(count(lit(1)).as("cnt"))
    cap.crossJoin(pas)
      .select(occupancyPct(col("cnt"), col("cap")).as("total_occupancy_pct"))
  }

  /** Q9 — global trip count (`TotalPassengers.java:33-34`). */
  def q9(trips: DataFrame): DataFrame =
    trips.agg(count(lit(1)).as("total_passengers"))

  /** Q10 — transport type with most passengers, global argmax
    * (`TransportTypeMaxPassengers.java:27-52`). */
  def q10(trips: DataFrame): DataFrame =
    trips
      .filter(col("transport_type").isNotNull)
      .groupBy("transport_type")
      .agg(count(lit(1)).as("max_passengers"))
      .orderBy(col("max_passengers").desc, col("transport_type").asc)
      .limit(1)

  /** Windowed trip counts per (1h tumbling window, transport type); window
    * start is epoch-aligned so it equals date_trunc('hour', ts)
    * (`TransportTypeMaxPassengersWindow.java:28-33`). */
  def windowedTypeCounts(trips: DataFrame): DataFrame =
    trips
      .filter(col("transport_type").isNotNull && col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("transport_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("transport_type"),
        col("cnt"))

  /** Q11 — per-window argmax transport type by trip count
    * (`TransportTypeMaxPassengersWindow.java:28-53`). Emits one row per
    * window (the reference collapses to a constant key, keeping only the
    * latest window — the windowed table is the faithful batch answer). */
  def q11(trips: DataFrame): DataFrame = {
    val w = Window.partitionBy("window_start")
      .orderBy(col("cnt").desc, col("transport_type").asc)
    windowedTypeCounts(trips)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("window_start"), col("transport_type"),
        col("cnt").as("max_passengers"))
  }

  /** Q12 — least-occupied transport type per 1h window: unwindowed capacity
    * per type joined to windowed counts → occupancy %, per-window argmin
    * (`LeastOccupiedTransportTypeWindow.java:39-94`). Implements the
    * *intended* min; the reference's final fold keeps the latest value
    * instead (`:92`), documented divergence. */
  def q12(routes: DataFrame, trips: DataFrame): DataFrame = {
    val cap = routes.filter(col("transport_type").isNotNull)
      .groupBy("transport_type")
      .agg(sum("capacity").as("cap"))
    val w = Window.partitionBy("window_start")
      .orderBy(col("occupancy_pct").asc, col("transport_type").asc)
    windowedTypeCounts(trips)
      .join(broadcast(cap), Seq("transport_type"), "left")
      .select(col("window_start"), col("transport_type"),
        occupancyPct(col("cnt"), col("cap")).as("occupancy_pct"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Q13 — most-occupied operator: per-operator passenger sum and capacity
    * sum → occupancy %, global argmax (`MostOccupiedOperator.java:56-163`).
    * Implements the *intended* per-operator sum; the reference keeps the
    * last-updated route's count instead (`:109`), documented divergence. */
  def q13(routes: DataFrame, trips: DataFrame): DataFrame = {
    val rc = trips.filter(col("route_id").isNotNull)
      .groupBy("route_id").agg(count(lit(1)).as("cnt"))
    routes
      .filter(col("route_id").isNotNull && col("operator").isNotNull)
      .join(rc, Seq("route_id"), "left")
      .groupBy("operator")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("pas"),
           sum("capacity").as("cap"))
      .select(col("operator"),
        occupancyPct(col("pas"), col("cap")).as("occupancy_pct"))
      .orderBy(col("occupancy_pct").desc, col("operator").asc)
      .limit(1)
  }

  /** Latest trip per route — the `KStream.toTable` upsert view
    * (`MostOccupiedOperator.java:56-68`) exercised non-vacuously: lineitem
    * has ~30 rows per l_partkey, so "latest" genuinely differs from any
    * other pick. Total order per key: (ts, trip_id). */
  def latestTripPerRoute(trips: DataFrame): DataFrame = {
    // Narrow-scan guard (r17, guide §2.5): a single-row-group parquet scan
    // runs the whole max_by partial aggregation in ONE task (measured:
    // 1.5 s sorting 600k rows single-threaded at sf0.1). Repartition by
    // the KEY — a hash exchange, which unlike keyless repartition(n) pays
    // no determinism pre-sort — so the aggregation parallelizes and needs
    // no second exchange. No-op whenever the scan is already at cluster
    // width (the 100 TB case), preserving the shuffle-at-most-one-row-
    // per-key-per-partition shape there.
    val p = trips.sparkSession.sparkContext.defaultParallelism
    val t = if (trips.queryExecution.toRdd.getNumPartitions < p)
      trips.repartition(col("route_id")) else trips
    Upsert.latestPerKey(t, Seq("route_id"), Seq("ts", "trip_id"))
  }

  // ==== batch wrappers over the parquet views (driver contract) ============

  def q4OccupancyPerRoute(s: SparkSession, d: String): DataFrame =
    q4(routesOf(s, d), tripsOf(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_seats_per_route"            -> ((s, d) => q1(routesOf(s, d))),
    "q2_avg_passengers_per_type"    -> ((s, d) => q2(tripsOf(s, d))),
    "q3_top_passenger"              -> ((s, d) => q3(tripsOf(s, d))),
    "q4_occupancy_per_route"        -> ((s, d) => q4(routesOf(s, d), tripsOf(s, d))),
    "q5_passengers_per_route"       -> ((s, d) => q5(tripsOf(s, d))),
    "q6_least_occupied_route_per_type" -> ((s, d) => q6(routesOf(s, d), tripsOf(s, d))),
    "q7_total_capacity"             -> ((s, d) => q7(routesOf(s, d))),
    "q8_total_occupancy_pct"        -> ((s, d) => q8(routesOf(s, d), tripsOf(s, d))),
    "q9_total_passengers"           -> ((s, d) => q9(tripsOf(s, d))),
    "q10_top_transport_type"        -> ((s, d) => q10(tripsOf(s, d))),
    "q11_window_top_type"           -> ((s, d) => q11(tripsOf(s, d))),
    "q12_window_least_occupied_type" -> ((s, d) => q12(routesOf(s, d), tripsOf(s, d))),
    "q13_most_occupied_operator"    -> ((s, d) => q13(routesOf(s, d), tripsOf(s, d))),
    "latest_per_key"                -> ((s, d) => latestTripPerRoute(tripsOf(s, d))),
  )

  // ---- DuckDB oracle SQL (same views, same arithmetic, same tiebreaks) -----

  private val occCase =
    "CASE WHEN cap IS NULL OR cap = 0 OR cnt IS NULL THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(cnt AS DOUBLE) * 100 / cap END"

  val oracleSql: Map[String, String] = Map(
    "q1_seats_per_route" ->
      s"""$transitWith SELECT route_id, CAST(SUM(capacity) AS BIGINT) AS total_capacity
         | FROM routes WHERE route_id IS NOT NULL GROUP BY route_id""".stripMargin,

    "q2_avg_passengers_per_type" ->
      s"""$transitWith SELECT transport_type,
         | CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT route_id) AS average_passengers
         | FROM trips WHERE transport_type IS NOT NULL AND route_id IS NOT NULL
         | GROUP BY transport_type""".stripMargin,

    "q3_top_passenger" ->
      s"""$transitWith SELECT passenger_name, CAST(COUNT(*) AS BIGINT) AS trip_count
         | FROM trips WHERE passenger_name IS NOT NULL GROUP BY passenger_name
         | ORDER BY trip_count DESC, passenger_name ASC LIMIT 1""".stripMargin,

    "q4_occupancy_per_route" ->
      s"""$transitWith, cap AS (
         |  SELECT route_id, SUM(capacity) AS cap FROM routes
         |  WHERE route_id IS NOT NULL GROUP BY route_id),
         | pas AS (
         |  SELECT route_id, COUNT(*) AS cnt FROM trips
         |  WHERE route_id IS NOT NULL GROUP BY route_id)
         | SELECT cap.route_id, $occCase AS occupancy_pct
         | FROM cap LEFT JOIN pas ON cap.route_id = pas.route_id""".stripMargin,

    "q5_passengers_per_route" ->
      s"""$transitWith SELECT route_id, CAST(COUNT(*) AS BIGINT) AS passenger_count
         | FROM trips WHERE route_id IS NOT NULL GROUP BY route_id""".stripMargin,

    "q6_least_occupied_route_per_type" ->
      s"""$transitWith, cap AS (
         |  SELECT route_id, transport_type, SUM(capacity) AS cap FROM routes
         |  WHERE route_id IS NOT NULL GROUP BY route_id, transport_type),
         | pas AS (
         |  SELECT route_id, COUNT(*) AS cnt FROM trips
         |  WHERE route_id IS NOT NULL GROUP BY route_id),
         | occ AS (
         |  SELECT cap.route_id, cap.transport_type, $occCase AS occupancy_pct
         |  FROM cap LEFT JOIN pas ON cap.route_id = pas.route_id)
         | SELECT transport_type, route_id, occupancy_pct FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY transport_type
         |    ORDER BY occupancy_pct ASC, route_id ASC) AS rn FROM occ)
         | WHERE rn = 1""".stripMargin,

    "q7_total_capacity" ->
      s"""$transitWith SELECT CAST(SUM(capacity) AS BIGINT) AS total_capacity
         | FROM routes WHERE route_id IS NOT NULL""".stripMargin,

    "q8_total_occupancy_pct" ->
      s"""$transitWith SELECT $occCase AS total_occupancy_pct FROM (
         |  SELECT (SELECT SUM(capacity) FROM routes WHERE route_id IS NOT NULL) AS cap,
         |         (SELECT COUNT(*) FROM trips) AS cnt)""".stripMargin,

    "q9_total_passengers" ->
      s"""$transitWith SELECT CAST(COUNT(*) AS BIGINT) AS total_passengers
         | FROM trips""".stripMargin,

    "q10_top_transport_type" ->
      s"""$transitWith SELECT transport_type, CAST(COUNT(*) AS BIGINT) AS max_passengers
         | FROM trips WHERE transport_type IS NOT NULL GROUP BY transport_type
         | ORDER BY max_passengers DESC, transport_type ASC LIMIT 1""".stripMargin,

    "q11_window_top_type" ->
      s"""$transitWith, wc AS (
         |  SELECT date_trunc('hour', ts) AS window_start, transport_type,
         |         COUNT(*) AS cnt
         |  FROM trips WHERE transport_type IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1, 2)
         | SELECT window_start, transport_type, CAST(cnt AS BIGINT) AS max_passengers
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
         |   ORDER BY cnt DESC, transport_type ASC) AS rn FROM wc)
         | WHERE rn = 1""".stripMargin,

    "q12_window_least_occupied_type" ->
      s"""$transitWith, cap AS (
         |  SELECT transport_type, SUM(capacity) AS cap FROM routes
         |  WHERE transport_type IS NOT NULL GROUP BY transport_type),
         | wc AS (
         |  SELECT date_trunc('hour', ts) AS window_start, transport_type,
         |         COUNT(*) AS cnt
         |  FROM trips WHERE transport_type IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1, 2),
         | occ AS (
         |  SELECT wc.window_start, wc.transport_type, $occCase AS occupancy_pct
         |  FROM wc LEFT JOIN cap ON wc.transport_type = cap.transport_type)
         | SELECT window_start, transport_type, occupancy_pct FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
         |    ORDER BY occupancy_pct ASC, transport_type ASC) AS rn FROM occ)
         | WHERE rn = 1""".stripMargin,

    "q13_most_occupied_operator" ->
      s"""$transitWith, rc AS (
         |  SELECT route_id, COUNT(*) AS cnt FROM trips
         |  WHERE route_id IS NOT NULL GROUP BY route_id),
         | agg AS (
         |  SELECT operator, SUM(COALESCE(rc.cnt, 0)) AS cnt, SUM(capacity) AS cap
         |  FROM routes LEFT JOIN rc ON routes.route_id = rc.route_id
         |  WHERE routes.route_id IS NOT NULL AND operator IS NOT NULL
         |  GROUP BY operator)
         | SELECT operator, $occCase AS occupancy_pct FROM agg
         | ORDER BY occupancy_pct DESC, operator ASC LIMIT 1""".stripMargin,

    "latest_per_key" ->
      s"""$transitWith SELECT trip_id, route_id, transport_type, passenger_name, ts
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY route_id
         |   ORDER BY ts DESC, trip_id DESC) AS rn FROM trips)
         | WHERE rn = 1""".stripMargin,
  )
}
