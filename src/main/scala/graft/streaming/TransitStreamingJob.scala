package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Staging
import graft.operators.{TransitQueries, Upsert}

/** Keyed result tables maintained by the streaming job — the Spark analog of
  * the reference's JDBC upsert sink (`config/sink-passangers_per_route.json:13-15`,
  * `pk.mode=record_key`): each query's output is a table upserted on its
  * result key. In-memory DataFrames here; at cluster scale each table is a
  * Delta/JDBC MERGE target — the merge step below is exactly the MERGE ON
  * keys statement.
  */
final class TableStore(spark: SparkSession) {
  private val tables = TrieMap.empty[String, DataFrame]
  private val gen = new AtomicLong(0L)

  /** Truncate lineage so per-trigger state merges don't grow an unbounded
    * plan (the micro-batch analog of changelog compaction). Iterative
    * staging: truncation is mandatory here, whatever the session policy. */
  private def ckpt(df: DataFrame): DataFrame = Staging.stageIterative(df)

  /** Mutation hook (set by the owning job to track dirty tables for the
    * durable-state commits; not fired by [[restore]]). */
  private[streaming] var onMutate: String => Unit = _ => ()

  private val mutations = new AtomicLong(0L)
  /** Total put/upsert count — lets a periodic publisher skip cycles where
    * nothing changed. */
  def mutationCount: Long = mutations.get()

  /** Replace the whole table (for tiny global results like argmax rows). */
  def put(name: String, df: DataFrame): Unit = {
    tables(name) = ckpt(df)
    mutations.incrementAndGet()
    onMutate(name)
  }

  /** MERGE `updates` into the named table on `keys`: new keys insert, known
    * keys take the update's values (latest generation wins). */
  def upsert(name: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val tagged = updates.withColumn("_gen", lit(gen.incrementAndGet()))
    val merged = tables.get(name) match {
      case None       => tagged
      case Some(prev) => Upsert.latestPerKey(prev.unionByName(tagged), keys, Seq("_gen"))
    }
    tables(name) = ckpt(merged)
    mutations.incrementAndGet()
    onMutate(name)
  }

  def get(name: String): Option[DataFrame] = tables.get(name).map(_.drop("_gen"))
  def apply(name: String): DataFrame = get(name).getOrElse(
    throw new NoSuchElementException(s"no result table '$name' yet"))
  def names: Seq[String] = tables.keys.toSeq.sorted

  /** Consistent snapshot for persistence (keeps the `_gen` bookkeeping). */
  private[streaming] def snapshot: Map[String, DataFrame] = tables.toMap

  /** Restore a persisted table, advancing the generation counter past any
    * persisted `_gen` so post-restart upserts keep winning ties. */
  private[streaming] def restore(name: String, df: DataFrame): Unit = {
    val d = ckpt(df)
    tables(name) = d
    if (d.columns.contains("_gen")) {
      val m = Option(d.agg(max("_gen")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      gen.updateAndGet(g => math.max(g, m)); ()
    }
  }
}

/** The 13 reference queries as ONE Structured Streaming application —
  * mirroring `MainStreamApp.java:22-34`'s one-app-13-topologies shape.
  *
  * Inputs: streaming DataFrames with the transit view schemas
  * (routes: route_id, transport_type, capacity, operator, ts;
  * trips: trip_id, route_id, transport_type, passenger_name, ts) — from
  * `MemoryStream` in tests, file/Kafka source in production, decoded via
  * [[graft.engine.Decode]] when the wire format is JSON.
  *
  * Three execution groups (SURVEY.md §7.3 strategy):
  *
  *   1. '''Native update-mode aggregations''' (q1, q5, q9): single stateful
  *      aggregation per query, incremental Spark state store, update-mode
  *      output upserted into the [[TableStore]]. The scale path: state is
  *      per-key, shuffle-partitioned, no recompute.
  *
  *   2. '''Native watermarked windowed aggregation''' (q11/q12 counts):
  *      `withWatermark(ts, "0 seconds")` + 1h tumbling window in APPEND mode
  *      reproduces the reference's zero-grace late-data drop
  *      (`TransportTypeMaxPassengersWindow.java:32`,
  *      `LeastOccupiedTransportTypeWindow.java:68`): a window's count is
  *      emitted exactly once, when the watermark passes its end; later events
  *      for it are dropped by the engine. The append output feeds the
  *      per-window argmax/argmin finishers.
  *
  *   3. '''foreachBatch over the tagged union stream''' for the
  *      aggregate⋈aggregate queries (q2, q3, q4, q6, q8, q10, q13), which a
  *      single Structured Streaming query cannot express (no join of two
  *      streaming aggregates). The batch handler maintains '''compact
  *      incremental counter tables''' — the KTable/RocksDB analog: per-key
  *      aggregates only, never raw events, each bounded by its key
  *      cardinality — and derives the query results '''restricted to the
  *      keys touched by the batch''' (plus the deliberately tiny dimension
  *      recomputes, e.g. q13's per-operator table, #operators rows). The
  *      per-trigger cost is nevertheless O(state), not O(batch): every
  *      counter merge (`mergeSum`, `mergeScalar`, [[TableStore.upsert]])
  *      re-aggregates `state ∪ batch`, and the touched-key derivations join
  *      against the full state tables. Keeping the counters in Spark's
  *      state store instead is ROADMAP open item 2.
  *
  * Upsert semantics: route re-emissions are compacted through
  * [[Upsert.latestPerKey]] (`routesLatest` state — the reference's
  * `KStream.toTable`, `MostOccupiedOperator.java:56-68`) wherever the
  * reference uses a latest-value table (q13's operator map); stream-fold
  * aggregates (q1 capacity sums, q12's capacity-per-type,
  * `LeastOccupiedTransportTypeWindow.java:42-46`) stay folds, faithful to
  * the reference's adder-only aggregates.
  *
  * Monotone running argmax (q3, q10): trip counts only grow, so the current
  * champion can only be displaced by a key updated in this batch — the
  * champion merge is `top1(old champion ∪ touched keys' new totals)`,
  * O(batch) per trigger and *exact* (unlike the reference's non-retractable
  * fold, which is only correct for monotone metrics — these are). The
  * non-monotone extremes (q6, q13 over occupancy, which moves both ways) are
  * recomputed from their maintained per-key aggregate (q6 restricted to
  * touched types; q13 over the #operators-sized table).
  *
  * Threading: each foreachBatch body synchronizes on this job — Spark runs
  * the three queries' triggers on separate threads; state/table mutation is
  * serialized. Results are eventually consistent across groups within a
  * trigger (the reference has the same property: its 13 topologies share no
  * barrier).
  */
object TransitStreamingJob {
  import graft.engine.Decode
  import graft.sources.StreamAdapters
  import graft.sources.StreamAdapters.TopicRef

  /** The full reference ingress: subscribe to the two input topics
    * (`Routes_topic`/`Trips_topic`, `MainStreamApp.java:22-34`), decode the
    * JSON wire into the transit views, and assemble the 13-query job.
    * Transport (Kafka vs JSON-lines directory) is resolved by the adapter. */
  def fromTopics(spark: SparkSession, routesTopic: TopicRef,
                 tripsTopic: TopicRef,
                 stateDir: Option[String] = None): TransitStreamingJob =
    new TransitStreamingJob(spark,
      Decode.routes(StreamAdapters.readStreamRaw(spark, routesTopic)),
      Decode.trips(StreamAdapters.readStreamRaw(spark, tripsTopic)),
      stateDir)
}

final class TransitStreamingJob(spark: SparkSession, routes: DataFrame,
                                trips: DataFrame,
                                stateDir: Option[String] = None) {

  val store = new TableStore(spark)

  // ---- incremental counter state (the KTable analog) ----------------------
  private var routesLatest: Option[DataFrame] = None // toTable: latest route per key
  private var capPerRouteType: Option[DataFrame] = None // (route_id, transport_type) -> sum cap
  private var capPerType: Option[DataFrame] = None      // q12 cap side (stream-fold)
  private var cntPerRoute: Option[DataFrame] = None     // trips per route
  private var cntPerType: Option[DataFrame] = None      // trips per transport type
  private var cntPerTypeRoute: Option[DataFrame] = None // q2: (type, route) -> cnt
  private var cntPerPassenger: Option[DataFrame] = None // q3
  private var totalCap: Option[DataFrame] = None        // 1 row: q7/q8
  private var totalTrips: Option[DataFrame] = None      // 1 row: q8/q9

  // per-trigger counter folds build on the previous trigger's frame —
  // iterative staging (mandatory lineage truncation), not plain stage
  private def ckpt(df: DataFrame): DataFrame = Staging.stageIterative(df)

  // ---- durable state (the RocksDB + changelog-topic analog) ---------------
  //
  // With `stateDir` set, every union-runner trigger commits a VERSIONED
  // parquet snapshot of the counter tables and the result store
  // (`v<batchId>/{state,results}/<name>` + an atomically-moved `_committed`
  // marker), and a replayed batch (foreachBatch is at-least-once) is
  // detected by id and skipped — effectively-once state. The other
  // handlers (native-agg upserts, finalized-window upserts) are idempotent
  // by key, so replaying them against a restored snapshot is safe. At
  // cluster scale the same protocol targets object storage / Delta; the
  // snapshots are compact aggregates (bounded by key cardinality), never
  // raw events — exactly what the reference's changelog topics carry.

  /** (name, read, write) for every piece of incremental counter state. */
  private def counterSlots: Seq[(String, () => Option[DataFrame], Option[DataFrame] => Unit)] =
    Seq(
      ("routesLatest", () => routesLatest, v => routesLatest = v),
      ("capPerRouteType", () => capPerRouteType, v => capPerRouteType = v),
      ("capPerType", () => capPerType, v => capPerType = v),
      ("cntPerRoute", () => cntPerRoute, v => cntPerRoute = v),
      ("cntPerType", () => cntPerType, v => cntPerType = v),
      ("cntPerTypeRoute", () => cntPerTypeRoute, v => cntPerTypeRoute = v),
      ("cntPerPassenger", () => cntPerPassenger, v => cntPerPassenger = v),
      ("totalCap", () => totalCap, v => totalCap = v),
      ("totalTrips", () => totalTrips, v => totalTrips = v))

  /** Replay guard for the non-idempotent union runner (restored from the
    * committed snapshot's metadata). */
  private var lastUnionBatch: Option[Long] = None
  /** Monotone commit version — every handler's trigger commits one. */
  private var commitSeq: Long = -1L
  /** path ("state/<n>" | "results/<n>") → version dir holding its latest
    * data. The per-version `_manifest` persists this map, so a commit only
    * writes the tables its trigger actually touched — O(batch), not
    * O(total state) — while restore still sees the full picture. */
  private val tableVersions = scala.collection.mutable.Map.empty[String, Long]
  /** paths mutated since the last commit */
  private val dirty = scala.collection.mutable.Set.empty[String]
  store.onMutate = n => dirty += s"results/$n"

  private def subDirs(p: java.io.File): Seq[java.io.File] =
    if (p.isDirectory) Option(p.listFiles).getOrElse(Array.empty).filter(_.isDirectory).toSeq
    else Nil

  // restore the last committed snapshot, if any
  stateDir.foreach { d =>
    val marker = new java.io.File(s"$d/_committed")
    if (marker.isFile) {
      val v = java.nio.file.Files.readString(marker.toPath).trim.toLong
      commitSeq = v
      val meta = new java.io.File(s"$d/v$v/_union_batch")
      if (meta.isFile)
        lastUnionBatch = Some(java.nio.file.Files.readString(meta.toPath).trim.toLong)
      val mf = new java.io.File(s"$d/v$v/_manifest")
      // a committed version without a manifest would restore NOTHING while
      // the replay guard still suppresses refolding — silent total state
      // loss; refuse instead
      require(mf.isFile,
        s"committed state at $d/v$v has no _manifest — refusing to restore blindly")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(mf.toPath).asScala
        .filter(_.nonEmpty).foreach { line =>
          val Array(p, ver) = line.split("\t")
          tableVersions(p) = ver.toLong
        }
      tableVersions.foreach { case (p, ver) =>
        val df = spark.read.parquet(s"$d/v$ver/$p")
        if (p.startsWith("results/")) store.restore(p.stripPrefix("results/"), df)
        else counterSlots.find(_._1 == p.stripPrefix("state/"))
          .foreach(_._3(Some(ckpt(df))))
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Commit one version: the tables THIS trigger touched under v<seq>, a
    * full `_manifest` (path → owning version), the union replay guard, then
    * the marker (atomic move), then GC of versions no manifest entry
    * references. Called (under the job monitor) at the end of every
    * handler's trigger. Crash safety: a version dir left behind by a
    * crashed attempt at this seq (marker never moved) is cleared before
    * reuse, so stale partial files can never be marker-committed. */
  private def commitState(): Unit = stateDir.foreach { d =>
    commitSeq += 1
    val base = s"$d/v$commitSeq"
    deleteRecursively(new java.io.File(base))
    dirty.toSeq.sorted.foreach { p =>
      val df =
        if (p.startsWith("results/")) store.snapshot.get(p.stripPrefix("results/"))
        else counterSlots.find(_._1 == p.stripPrefix("state/")).flatMap(_._2())
      df.foreach { frame =>
        frame.write.mode("overwrite").parquet(s"$base/$p")
        tableVersions(p) = commitSeq
      }
    }
    dirty.clear()
    new java.io.File(base).mkdirs() // exists even if nothing was dirty
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/_manifest"),
      tableVersions.toSeq.sorted.map { case (p, v) => s"$p\t$v" }.mkString("\n"))
    lastUnionBatch.foreach(id => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/_union_batch"), id.toString))
    val tmp = java.nio.file.Paths.get(s"$d/_committed.tmp")
    java.nio.file.Files.writeString(tmp, commitSeq.toString)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$d/_committed"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val referenced = tableVersions.values.toSet + commitSeq
    subDirs(new java.io.File(d))
      .filter { f =>
        val n = f.getName
        n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toLong < commitSeq && !referenced(n.drop(1).toLong)
      }
      .foreach(deleteRecursively)
  }

  /** state ∪ per-batch partial aggregate → re-aggregate: the map-side-combine
    * merge. `sums` are (column, is-count) pairs summed on merge. */
  private def mergeSum(state: Option[DataFrame], updates: DataFrame,
                       keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val merged = state match {
      case None    => updates
      case Some(s) =>
        s.unionByName(updates).groupBy(keys.map(col): _*)
          .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
          .select((keys.map(col) ++ sumCols.map(c => col(s"sum($c)").as(c))): _*)
    }
    ckpt(merged)
  }

  /** 1-row running total: state ∪ batch-delta → sum. */
  private def mergeScalar(state: Option[DataFrame], delta: DataFrame, c: String): DataFrame =
    ckpt(state match {
      case None    => delta.select(coalesce(col(c), lit(0L)).cast("long").as(c))
      case Some(s) => s.unionByName(delta.select(coalesce(col(c), lit(0L)).cast("long").as(c)))
        .agg(sum(col(c)).as(c))
    })

  /** Exact monotone running argmax: champion can only be displaced by a key
    * whose total changed this batch. */
  private def runningTop1(prev: Option[DataFrame], updatedTotals: DataFrame,
                          metric: String, tiebreak: String): DataFrame = {
    val all = prev.map(_.unionByName(updatedTotals)).getOrElse(updatedTotals)
    all.orderBy(col(metric).desc, col(tiebreak).asc).limit(1)
  }

  // ---- group 3: the tagged-union foreachBatch runner ----------------------

  /** Routes and trips as one tagged stream, so a single handler sees both
    * sides of every aggregate⋈aggregate query in the same trigger. */
  private def taggedUnion: DataFrame = {
    val r = routes.select(lit("route").as("kind"), col("route_id"),
      col("transport_type"), col("capacity"), col("operator"),
      lit(null).cast("string").as("trip_id"),
      lit(null).cast("string").as("passenger_name"), col("ts"))
    val t = trips.select(lit("trip").as("kind"), col("route_id"),
      col("transport_type"), lit(null).cast("int").as("capacity"),
      lit(null).cast("string").as("operator"), col("trip_id"),
      col("passenger_name"), col("ts"))
    r.unionByName(t)
  }

  private def processUnionBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    // at-least-once replay of an already-committed batch: its effects are
    // in the restored snapshot — folding it again would double-count
    if (lastUnionBatch.exists(_ >= batchId)) return
    val b = Staging.stage(batch)
    val r = b.filter(col("kind") === "route")
      .select("route_id", "transport_type", "capacity", "operator", "ts")
    val t = b.filter(col("kind") === "trip")
      .select("trip_id", "route_id", "transport_type", "passenger_name", "ts")

    // -- route-side state (null keys dropped, matching the reference's
    // groupBy null-key drop — see the batch queries' filters)
    val rK = r.filter(col("route_id").isNotNull)
    routesLatest = Some(ckpt(Upsert.upsertLatest(routesLatest,
      rK.withColumn("_b", lit(batchId)), Seq("route_id"), Seq("ts", "_b"))))
    capPerRouteType = Some(mergeSum(capPerRouteType,
      rK.groupBy("route_id", "transport_type").agg(sum("capacity").as("cap")),
      Seq("route_id", "transport_type"), Seq("cap")))
    capPerType = Some(mergeSum(capPerType,
      r.filter(col("transport_type").isNotNull)
        .groupBy("transport_type").agg(sum("capacity").as("cap")),
      Seq("transport_type"), Seq("cap")))
    totalCap = Some(mergeScalar(totalCap, rK.agg(sum("capacity").as("cap")), "cap"))

    // -- trip-side state (append-only: counts are monotone)
    val tR = t.filter(col("route_id").isNotNull)
    cntPerRoute = Some(mergeSum(cntPerRoute,
      tR.groupBy("route_id").agg(count(lit(1)).as("cnt")), Seq("route_id"), Seq("cnt")))
    cntPerType = Some(mergeSum(cntPerType,
      t.filter(col("transport_type").isNotNull)
        .groupBy("transport_type").agg(count(lit(1)).as("cnt")),
      Seq("transport_type"), Seq("cnt")))
    cntPerTypeRoute = Some(mergeSum(cntPerTypeRoute,
      tR.filter(col("transport_type").isNotNull)
        .groupBy("transport_type", "route_id").agg(count(lit(1)).as("cnt")),
      Seq("transport_type", "route_id"), Seq("cnt")))
    cntPerPassenger = Some(mergeSum(cntPerPassenger,
      t.filter(col("passenger_name").isNotNull)
        .groupBy("passenger_name").agg(count(lit(1)).as("cnt")),
      Seq("passenger_name"), Seq("cnt")))
    totalTrips = Some(mergeScalar(totalTrips, t.agg(count(lit(1)).as("cnt")), "cnt"))

    // -- touched keys: the derivations below emit only touched keys, but
    // they join against the full state tables, so each is O(state)
    val touchedRoutes = r.select("route_id").unionByName(tR.select("route_id"))
      .where(col("route_id").isNotNull).distinct()

    // q4: occupancy for touched routes only, upserted on (route_id,
    // transport_type) — the batch routeOccupancy grain (ADVICE r2: a route
    // re-emitted under a different type keeps BOTH occupancy rows in batch
    // q4; keying on route_id alone made the winner a nondeterministic
    // equal-_gen max_by tiebreak)
    val occUpd = capPerRouteType.get.join(broadcast(touchedRoutes), Seq("route_id"))
      .join(cntPerRoute.get, Seq("route_id"), "left")
      .select(col("route_id"), col("transport_type"),
        TransitQueries.occupancyPct(col("cnt"), col("cap")).as("occupancy_pct"))
    store.upsert("route_occupancy", occUpd, Seq("route_id", "transport_type"))
    store.put("q4_occupancy_per_route",
      store("route_occupancy").select("route_id", "occupancy_pct"))

    // q6: per-type argmin over maintained occupancy, touched types only
    val touchedTypes = occUpd.select("transport_type").distinct()
    val q6Upd = store("route_occupancy")
      .join(broadcast(touchedTypes), Seq("transport_type"))
      .groupBy("transport_type")
      .agg(min_by(struct(col("route_id"), col("occupancy_pct")),
                  struct(col("occupancy_pct"), col("route_id"))).as("m"))
      .select(col("transport_type"), col("m.route_id").as("route_id"),
        col("m.occupancy_pct").as("occupancy_pct"))
    store.upsert("q6_least_occupied_route_per_type", q6Upd, Seq("transport_type"))

    // q2: avg passengers per route per type, touched types only
    val tTypes = tR.filter(col("transport_type").isNotNull)
      .select("transport_type").distinct()
    val q2Upd = cntPerTypeRoute.get.join(broadcast(tTypes), Seq("transport_type"))
      .groupBy("transport_type")
      .agg((sum("cnt").cast("double") / count(lit(1))).as("average_passengers"))
    store.upsert("q2_avg_passengers_per_type", q2Upd, Seq("transport_type"))

    // q3/q10: monotone running argmax (champion ∪ touched keys' new totals)
    val pTouched = t.filter(col("passenger_name").isNotNull)
      .select("passenger_name").distinct()
    val pTotals = cntPerPassenger.get.join(broadcast(pTouched), Seq("passenger_name"))
      .select(col("passenger_name"), col("cnt").as("trip_count"))
    store.put("q3_top_passenger",
      runningTop1(store.get("q3_top_passenger"), pTotals, "trip_count", "passenger_name"))

    // q10 counts ALL non-null-type trips (no route filter — unlike q2), so
    // its touched set must too
    val tyTouched = t.filter(col("transport_type").isNotNull)
      .select("transport_type").distinct()
    val tyTotals = cntPerType.get.join(broadcast(tyTouched), Seq("transport_type"))
      .select(col("transport_type"), col("cnt").as("max_passengers"))
    store.put("q10_top_transport_type",
      runningTop1(store.get("q10_top_transport_type"), tyTotals,
        "max_passengers", "transport_type"))

    // q7/q8/q9 from the running totals (1-row frames; q8 mirrors the batch
    // 1x1 crossJoin shape)
    store.put("q7_total_capacity", totalCap.get.select(col("cap").as("total_capacity")))
    store.put("q9_total_passengers", totalTrips.get.select(col("cnt").as("total_passengers")))
    store.put("q8_total_occupancy_pct",
      totalCap.get.crossJoin(totalTrips.get)
        .select(TransitQueries.occupancyPct(col("cnt"), col("cap")).as("total_occupancy_pct")))

    // q13: operator map is the LATEST route table (toTable semantics,
    // `MostOccupiedOperator.java:56-68`); recompute over the #operators-sized
    // aggregate — routes are the small dimension
    val q13 = routesLatest.get.filter(col("operator").isNotNull)
      .join(cntPerRoute.get, Seq("route_id"), "left")
      .groupBy("operator")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("pas"), sum("capacity").as("cap"))
      .select(col("operator"),
        TransitQueries.occupancyPct(col("pas"), col("cap")).as("occupancy_pct"))
      .orderBy(col("occupancy_pct").desc, col("operator").asc).limit(1)
    store.put("q13_most_occupied_operator", q13)

    // the toTable state itself, queryable (latest_per_key operator surface)
    store.put("routes_latest", routesLatest.get.drop("_b"))

    // only the counters whose input slice was non-empty changed content
    // this batch (an empty-side merge rebuilds an identical table — the
    // previously committed version stays valid, so skip rewriting it)
    if (stateDir.nonEmpty) {
      if (!r.isEmpty)
        Seq("routesLatest", "capPerRouteType", "capPerType", "totalCap")
          .foreach(n => dirty += s"state/$n")
      if (!t.isEmpty)
        Seq("cntPerRoute", "cntPerType", "cntPerTypeRoute", "cntPerPassenger",
          "totalTrips").foreach(n => dirty += s"state/$n")
    }
    lastUnionBatch = Some(batchId)
    commitState()
  }

  // ---- group 2: watermarked windowed counts (q11/q12) ---------------------

  /** Append-mode finalized (window, type) counts: each row arrives exactly
    * once, when the 0-second watermark passes the window end.
    *
    * Deliberately NO predicates in the streaming plan: a filter on the
    * grouping key (even placed after the aggregate) is pushed below the
    * `EventTimeWatermark` node by predicate pushdown / constraint
    * propagation, so null-type records would stop advancing the watermark —
    * but stream time must advance on *every* record, as it does for the
    * reference (Kafka stream time is per-record, key or no key). Null-type
    * groups are dropped batch-side in [[processWindowBatch]]; null-ts rows
    * land in a null window that never closes, i.e. are dropped by append
    * mode itself. */
  private def windowedCounts: DataFrame =
    trips.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("transport_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("transport_type"), col("cnt"))

  private def processWindowBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    val b = Staging.stage(
      batch.filter(col("transport_type").isNotNull && col("window_start").isNotNull))
    store.upsert("window_type_counts", b, Seq("window_start", "transport_type"))
    val wTouched = b.select("window_start").distinct()
    val wc = store("window_type_counts").join(broadcast(wTouched), Seq("window_start"))

    // q11: per-window argmax by count (tiebreak smallest type) —
    // min_by over (-cnt, type) = max by cnt then min type
    val q11Upd = wc.groupBy("window_start")
      .agg(min_by(struct(col("transport_type"), col("cnt")),
                  struct((-col("cnt")).as("neg"), col("transport_type"))).as("m"))
      .select(col("window_start"), col("m.transport_type").as("transport_type"),
        col("m.cnt").as("max_passengers"))
    store.upsert("q11_window_top_type", q11Upd, Seq("window_start"))

    // q12: per-window least-occupied type (intended min — SURVEY §2.1 quirk
    // b). Cap side is the maintained per-type fold; a cap update after a
    // window closed is not retroactively applied (same staleness the
    // reference has: closed windows never re-emit).
    val capT = capPerType.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("transport_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cap",
            org.apache.spark.sql.types.LongType)))))
    val q12Upd = wc.join(broadcast(capT), Seq("transport_type"), "left")
      .select(col("window_start"), col("transport_type"),
        TransitQueries.occupancyPct(col("cnt"), col("cap")).as("occupancy_pct"))
      .groupBy("window_start")
      .agg(min_by(struct(col("transport_type"), col("occupancy_pct")),
                  struct(col("occupancy_pct"), col("transport_type"))).as("m"))
      .select(col("window_start"), col("m.transport_type").as("transport_type"),
        col("m.occupancy_pct").as("occupancy_pct"))
    store.upsert("q12_window_least_occupied_type", q12Upd, Seq("window_start"))
    commitState()
  }

  // ---- group 1: native update-mode single aggregations --------------------

  private def nativeAggs: Seq[(String, DataFrame, Seq[String])] = Seq(
    ("q1_seats_per_route",
      routes.filter(col("route_id").isNotNull)
        .groupBy("route_id").agg(sum("capacity").as("total_capacity")),
      Seq("route_id")),
    ("q5_passengers_per_route",
      trips.filter(col("route_id").isNotNull)
        .groupBy("route_id").agg(count(lit(1)).as("passenger_count")),
      Seq("route_id")),
  )

  // -------------------------------------------------------------------------

  /** Start every streaming query; caller owns awaiting/stopping them. */
  def startAll(checkpointRoot: String): Seq[StreamingQuery] = {
    val native = nativeAggs.map { case (name, df, keys) =>
      df.writeStream.outputMode("update")
        .option("checkpointLocation", s"$checkpointRoot/$name")
        .queryName(name)
        .foreachBatch((b: DataFrame, _: Long) =>
          synchronized { store.upsert(name, b, keys); commitState() })
        .start()
    }
    val windowed = windowedCounts.writeStream.outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/windowed")
      .queryName("windowed_counts")
      .foreachBatch(processWindowBatch _)
      .start()
    // observe() is the reference's peek()/debug-tap analog (SURVEY §2.2):
    // per-trigger input metrics surfaced through StreamingQueryProgress
    // instead of side-effect printlns
    val union = taggedUnion
      .observe("graft_input",
        count(lit(1)).as("events"),
        count(col("route_id")).as("keyed_events"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/union")
      .queryName("union_runner")
      .foreachBatch(processUnionBatch _)
      .start()
    native :+ windowed :+ union
  }
}
