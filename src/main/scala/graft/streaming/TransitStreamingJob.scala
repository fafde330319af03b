package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TransitQueries

/** Keyed result tables maintained by the streaming job — the Spark analog of
  * the reference's JDBC upsert sink (`config/sink-passangers_per_route.json:13-15`,
  * `pk.mode=record_key`): each query's output is a table upserted on its
  * result key. Each table is held in the application's memory as keyed
  * rows, bounded by its key cardinality, and read as a local DataFrame; at
  * cluster scale each is a Delta/JDBC MERGE target and [[upsert]] is the
  * MERGE ON keys statement. Every table carries a version that moves only when its
  * content changes, so a publisher can skip the tables it already sent. The
  * store itself is not durable: a restarted job rebuilds it from the
  * processor's state ([[TransitCounters.restore]]), and a new store's
  * versions start over, so its first publish sends every table.
  */
final class TableStore(spark: SparkSession) {
  /** Rows by key (by position for a table [[put]] whole), and a version
    * that moves each time the content changes. */
  private final class Table(val schema: StructType, keys: Seq[String]) {
    var rows = mutable.LinkedHashMap.empty[Seq[Any], Row]
    var version = 0L
    def key(r: Row, i: Int): Seq[Any] =
      if (keys.isEmpty) Seq(i) else keys.map(k => r.get(schema.fieldIndex(k)))
    def load(rs: Iterable[Row]): Unit =
      rows = mutable.LinkedHashMap.from(rs.zipWithIndex.map { case (r, i) => key(r, i) -> r })
  }
  private val tables = mutable.Map.empty[String, Table]

  /** Run `f` on the named table, made empty when new; `f` says whether
    * the content moved. */
  private def change(name: String, schema: StructType, keys: Seq[String] = Nil)(
      f: Table => Boolean): Unit = synchronized {
    val isNew = !tables.contains(name)
    val t = tables.getOrElseUpdate(name, new Table(schema, keys))
    if (f(t) || isNew) t.version += 1
  }

  /** An empty table, unless one exists. */
  def ensure(name: String, schema: StructType): Unit = change(name, schema)(_ => false)

  /** Replace the whole table (for tiny global results like argmax rows). */
  def put(name: String, schema: StructType, rows: Seq[Row]): Unit = change(name, schema) { t =>
    val moved = t.rows.values.toSeq != rows
    if (moved) t.load(rows)
    moved
  }

  /** MERGE `updates` into the named table on `keys`: new keys insert, known
    * keys take the update's values. */
  def upsert(name: String, schema: StructType, keys: Seq[String], updates: Iterable[Row]): Unit =
    change(name, schema, keys) { t =>
      updates.count(r => !t.rows.put(t.key(r, 0), r).contains(r)) > 0
    }

  def get(name: String): Option[DataFrame] = synchronized {
    tables.get(name).map(t => spark.createDataFrame(t.rows.values.toSeq.asJava, t.schema))
  }
  def apply(name: String): DataFrame = get(name).getOrElse(
    throw new NoSuchElementException(s"no result table '$name' yet"))
  def names: Seq[String] = synchronized(tables.keys.toSeq.sorted)
  /** The table's rows now (none before it exists). */
  def rows(name: String): Seq[Row] = synchronized(tables.get(name).toSeq.flatMap(_.rows.values))
  /** Moves each time the table's content changes; 0 before it exists. */
  def version(name: String): Long = synchronized(tables.get(name).fold(0L)(_.version))
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
  * One query, `union_runner`, over the tagged union of both topics:
  * [[TransitCounters]] runs under `transformWithState` on RocksDB and keeps
  * compact counters for all 13 — the KTable/RocksDB analog: per-key
  * aggregates only, never raw events, each bounded by its key cardinality.
  * The aggregate⋈aggregate queries (q2, q3, q4, q6, q7, q8, q9, q10, q13)
  * need both sides in one trigger, which a single streaming aggregation
  * cannot express (no join of two streaming aggregates); q1 and q5 read its
  * per-route counters; q11/q12's zero-grace 1-hour windows
  * (`TransportTypeMaxPassengersWindow.java:32`,
  * `LeastOccupiedTransportTypeWindow.java:68`) sit in the same state under
  * the processor's own 0-second watermark, so a window closes against the
  * capacity of the routes that came with its trips. A trigger reads and
  * writes only the keys its rows touch and emits only the rows that
  * changed; the runner projects them through `TransitQueries.occupancyPct`
  * and applies them to the [[TableStore]] in one pass, so a trigger costs
  * one Spark job whatever the size of the state. The non-monotone extremes
  * are recomputed locally from the maintained tables: q6 over the touched
  * types' routes, q13 over the operators, q11/q12 over each closed window.
  *
  * Upsert semantics: `routes_latest` and q13's operator map keep the latest
  * emission per route (the reference's `KStream.toTable`,
  * `MostOccupiedOperator.java:56-68`); stream-fold aggregates (q1 capacity
  * sums, q12's capacity-per-type, `LeastOccupiedTransportTypeWindow.java:42-46`)
  * stay folds, faithful to the reference's adder-only aggregates.
  *
  * Durability: Spark's checkpoint is the one durable record. It holds the
  * processor's keyed state, open and closed windows and watermark included.
  * A replayed trigger re-runs from the previous state version and emits the
  * same rows, and applying them again is idempotent. A restart rebuilds the
  * result tables from the state of the last committed batch
  * ([[TransitCounters.restore]]) before the query resumes; a batch that
  * had not committed is replayed by the query. A checkpoint written before
  * the processor kept its closed windows (no `closed` state variable)
  * fails at that restore.
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
                 tripsTopic: TopicRef): TransitStreamingJob =
    new TransitStreamingJob(spark,
      Decode.routes(StreamAdapters.readStreamRaw(spark, routesTopic)),
      Decode.trips(StreamAdapters.readStreamRaw(spark, tripsTopic)))

  private val EventEncoder = Encoders.product[TransitEvent]
  private val ChangedEncoder = Encoders.product[Changed]

  // the union runner's and the window finishers' tables
  private def schema(ddl: String) = StructType.fromDDL(ddl)
  private val Q1 = schema("route_id string, total_capacity bigint")
  private val Q5 = schema("route_id string, passenger_count bigint")
  private val RoutesLatest =
    schema("route_id string, transport_type string, capacity int, operator string, ts timestamp")
  private val RouteOccupancy =
    schema("route_id string, transport_type string, occupancy_pct double")
  private val Q2 = schema("transport_type string, average_passengers double")
  private val Q3 = schema("passenger_name string, trip_count bigint")
  private val Q4 = schema("route_id string, occupancy_pct double")
  private val Q6 = schema("transport_type string, route_id string, occupancy_pct double")
  private val Q7 = schema("total_capacity bigint")
  private val Q8 = schema("total_occupancy_pct double")
  private val Q9 = schema("total_passengers bigint")
  private val Q10 = schema("transport_type string, max_passengers bigint")
  private val Q11 = schema("window_start timestamp, transport_type string, max_passengers bigint")
  private val Q12 = schema("window_start timestamp, transport_type string, occupancy_pct double")
  private val Q13 = schema("operator string, occupancy_pct double")
  private val WindowTypeCounts =
    schema("window_start timestamp, transport_type string, cnt bigint")

  /** Spark's sort order, for the argmin/argmax finishers that run locally:
    * doubles with -0.0 = 0.0 and NaN greatest, strings by UTF-8 bytes. */
  private val doubles: Ordering[Double] = new Ordering[Double] {
    def compare(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
  }
  private val strings: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }
  /** Least (metric, key); greatest metric with the least key. */
  private val leastFirst = Ordering.Tuple2(doubles, strings)
  private val greatestFirst = Ordering.Tuple2(doubles, strings.reverse)
  private val mostFirst = Ordering.Tuple2(Ordering.Long, strings.reverse)
}

final class TransitStreamingJob(spark: SparkSession, routes: DataFrame, trips: DataFrame) {
  import TransitStreamingJob._

  val store = new TableStore(spark)

  /** Routes and trips as one tagged stream, so a single processor sees both
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

  /** The processor's [[Changed]] rows with the one occupancy formula
    * (`occupancy_pct`) and q2's average applied. */
  private def projected(changed: DataFrame): DataFrame =
    changed.select(col("*"),
      TransitQueries.occupancyPct(col("cnt"), col("cap")).as("occupancy_pct"),
      (col("cnt").cast("double") / col("routes")).as("average"))

  /** Apply one trigger's projected [[Changed]] rows to the result tables. */
  private def applyChanged(rows: Seq[Row]): Unit = {
    val of = rows.groupBy(_.getAs[String]("table")).withDefaultValue(Nil)
    def v(r: Row, f: String): Any = r.get(r.fieldIndex(f))

    store.upsert("routes_latest", RoutesLatest, Seq("route_id"), of("routes_latest").map(r =>
      Row(v(r, "k1"), v(r, "k2"), v(r, "capacity"), v(r, "operator"), v(r, "ts"))))
    store.upsert("q1_seats_per_route", Q1, Seq("route_id"),
      of("q1").map(r => Row(v(r, "k1"), v(r, "cap"))))
    store.upsert("q5_passengers_per_route", Q5, Seq("route_id"),
      of("q5").map(r => Row(v(r, "k1"), v(r, "cnt"))))

    // q4 on the batch routeOccupancy grain (route_id, transport_type): a
    // route re-emitted under a different type keeps BOTH occupancy rows
    val occ = of("route_occupancy")
    store.upsert("route_occupancy", RouteOccupancy, Seq("route_id", "transport_type"),
      occ.map(r => Row(v(r, "k1"), v(r, "k2"), v(r, "occupancy_pct"))))
    val allOcc = store.rows("route_occupancy")
    store.put("q4_occupancy_per_route", Q4, allOcc.map(r => Row(r.get(0), r.get(2))))
    // q6: per-type argmin over the maintained occupancy, touched types only
    val touchedTypes = occ.map(_.getAs[String]("k2")).toSet
    store.upsert("q6_least_occupied_route_per_type", Q6, Seq("transport_type"),
      allOcc.filter(r => touchedTypes(r.getString(1))).groupBy(_.getString(1)).toSeq.map {
        case (ty, rs) =>
          val m = rs.minBy(r => (r.getDouble(2), r.getString(0)))(leastFirst)
          Row(ty, m.getString(0), m.getDouble(2))
      })

    store.upsert("q2_avg_passengers_per_type", Q2, Seq("transport_type"),
      of("q2").map(r => Row(v(r, "k1"), v(r, "average"))))
    Seq("q3" -> ("q3_top_passenger", Q3), "q10" -> ("q10_top_transport_type", Q10)).foreach {
      case (t, (name, schema)) =>
        store.ensure(name, schema)
        of(t).foreach(r => store.put(name, schema, Seq(Row(v(r, "k1"), v(r, "cnt")))))
    }
    of("totals").foreach { r =>
      store.put("q7_total_capacity", Q7, Seq(Row(v(r, "cap"))))
      store.put("q9_total_passengers", Q9, Seq(Row(v(r, "cnt"))))
      store.put("q8_total_occupancy_pct", Q8, Seq(Row(v(r, "occupancy_pct"))))
    }
    // q13: argmax over every operator (the processor sends them all when
    // one changed); occupancy moves both ways, so no running champion
    store.ensure("q13_most_occupied_operator", Q13)
    val ops = of("operator").filter(_.getAs[String]("k1") != null)
      .map(r => (r.getAs[Double]("occupancy_pct"), r.getAs[String]("k1")))
    if (of("operator").nonEmpty)
      store.put("q13_most_occupied_operator", Q13,
        ops.maxOption(greatestFirst).map { case (o, op) => Row(op, o) }.toSeq)

    // q11/q12: a window closes once, whole, so its finishers see all its
    // types. q12's capacity is the per-type fold when the window closed; a
    // later capacity update is not applied to it (the reference's closed
    // windows never re-emit either)
    val closed = of("window").groupBy(_.getAs[java.sql.Timestamp]("ts")).toSeq
    store.upsert("window_type_counts", WindowTypeCounts, Seq("window_start", "transport_type"),
      of("window").map(r => Row(v(r, "ts"), v(r, "k1"), v(r, "cnt"))))
    // q11: per-window argmax by count (tiebreak smallest type)
    store.upsert("q11_window_top_type", Q11, Seq("window_start"), closed.map { case (w, rs) =>
      val m = rs.maxBy(r => (r.getAs[Long]("cnt"), r.getAs[String]("k1")))(mostFirst)
      Row(w, v(m, "k1"), v(m, "cnt"))
    })
    // q12: per-window least-occupied type (intended min — SURVEY §2.1 quirk b)
    store.upsert("q12_window_least_occupied_type", Q12, Seq("window_start"), closed.map {
      case (w, rs) =>
        val m = rs.minBy(r => (r.getAs[Double]("occupancy_pct"), r.getAs[String]("k1")))(
          leastFirst)
        Row(w, v(m, "k1"), v(m, "occupancy_pct"))
    })
  }

  /** Start the job's one streaming query, `union_runner`; caller owns
    * awaiting/stopping it. Over a checkpoint with a committed batch, the
    * result tables are first rebuilt from the processor's state. */
  def startAll(checkpointRoot: String): Seq[StreamingQuery] = {
    val checkpoint = s"$checkpointRoot/union"
    val restored = TransitCounters.restore(spark, checkpoint)
    if (restored.nonEmpty)
      applyChanged(projected(spark.createDataset(restored)(ChangedEncoder).toDF()).collect().toSeq)
    // observe() is the reference's peek()/debug-tap analog (SURVEY §2.2):
    // per-trigger input metrics surfaced through StreamingQueryProgress
    // instead of side-effect printlns
    val changed = taggedUnion
      .observe("graft_input",
        count(lit(1)).as("events"),
        count(col("route_id")).as("keyed_events"))
      .as(EventEncoder)
      .groupByKey((_: TransitEvent) => 0)(Encoders.scalaInt)
      .transformWithState(new TransitCounters, TimeMode.None(), OutputMode.Append())(
        ChangedEncoder)
      .toDF()
    // all counters sit under one grouping key: one state partition
    val union = StateStores.startOnRocksDb(spark, partitions = 1) {
      changed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName("union_runner")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // the trigger's one Spark job; its rows are applied under the
          // job monitor
          val rows = projected(b).collect().toSeq
          synchronized(applyChanged(rows))
        }
        .start()
    }
    Seq(union)
  }
}
