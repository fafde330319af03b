package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}
import org.apache.spark.unsafe.types.UTF8String

/** One row of the transit job's tagged union: a route emission
  * (`kind = "route"`) or a trip (`kind = "trip"`). */
final case class TransitEvent(kind: String, route_id: String, transport_type: String,
    capacity: Option[Int], operator: String, trip_id: String, passenger_name: String,
    ts: Timestamp)

/** One changed row, emitted by [[TransitCounters]] and applied to the
  * [[TableStore]] by the union runner. `table` says what the row is; the
  * other fields hold its key (`k1`, `k2`) and values, null where unused:
  *
  *   - `routes_latest`: route_id, transport_type, capacity, operator, ts;
  *   - `q1`: route_id, capacity `cap` summed over every emission (null
  *     when every capacity is null);
  *   - `q5`: route_id, trips `cnt`;
  *   - `route_occupancy`: route_id, transport_type, trips `cnt`, capacity `cap`;
  *   - `q2`: transport_type, keyed trips `cnt`, distinct `routes`;
  *   - `q3`, `q10`: the champion's key and `cnt`;
  *   - `totals`: all trips `cnt`, keyed-route capacity `cap`;
  *   - `operator`: operator, trips `cnt`, latest capacity `cap`. Emitted for
  *     every operator whenever one changed; a null operator stands for "no
  *     operator has a route";
  *   - `window`: a closed window's start `ts`, a transport type, its trips
  *     `cnt` in the window and the type's capacity `cap` when it closed.
  */
final case class Changed(table: String, k1: String, k2: String = null,
    cnt: Option[Long] = None, cap: Option[Long] = None, routes: Option[Long] = None,
    capacity: Option[Int] = None, operator: String = null, ts: Timestamp = null)

// The state values. Per route: its latest emission (`KStream.toTable`),
// the capacity folded per type (null until a non-null capacity, like
// `sum`; q1 sums it over the types), its trips (q5) and the types they
// carried (q2's distinct routes). Per type: q10's trips, q12's capacity,
// q2's keyed trips and routes. Per operator, over its routes' latest
// emissions (q13): `capped` counts the non-null capacities, so a sum over
// none is null. Per open window (q11/q12), its trips per type; per closed
// window, its trips and capacity per type when it closed.
final case class LatestRoute(transport_type: String, capacity: Option[Int], operator: String,
    ts: Timestamp)
final case class TypeCap(transport_type: String, cap: Option[Long])
final case class RouteCounters(latest: Option[LatestRoute], caps: Seq[TypeCap], trips: Long,
    tripTypes: Seq[String])
final case class TypeCounters(trips: Long, cap: Option[Long], q2Trips: Long, q2Routes: Long)
final case class OperatorCounters(routes: Long, trips: Long, cap: Long, capped: Long)
final case class Champion(key: String, cnt: Long)
final case class Totals(trips: Long, cap: Long)
final case class WindowCounts(types: Map[String, Long])
final case class WindowType(transport_type: String, cnt: Long, cap: Option[Long])
final case class ClosedWindow(types: Seq[WindowType])

/** The union runner's counters on Spark's keyed state store: the Kafka
  * Streams KTable/RocksDB analog. All state lives under one grouping key,
  * because the aggregate⋈aggregate queries join counters of different keys.
  * Each trigger reads and writes only the keys its rows touch, and emits
  * only the rows that changed ([[Changed]]). Counts and capacities are
  * emitted raw: the union runner applies `TransitQueries.occupancyPct` to
  * them in its projection.
  *
  * Null keys are dropped as the batch queries drop them: route-keyed
  * counters need a `route_id`, the per-type capacity only a
  * `transport_type`; q10 counts trips with no route, q2 needs both keys.
  * Routes fold capacity on every emission (q1, q4, q7, q12's capacity) but q13 and
  * `routes_latest` use the latest emission per route: a later trigger wins
  * on equal `ts`, and within a trigger equal `ts` is broken by content, so
  * a replayed trigger emits the same rows. q3 and q10 keep the exact
  * monotone champion: counts only grow, so only a touched key can displace
  * it.
  *
  * q11/q12's 1-hour tumbling windows follow Spark's append-mode window
  * aggregation under `withWatermark("ts", "0 seconds")`, the reference's
  * zero-grace windows (`TransportTypeMaxPassengersWindow.java:32`): the
  * watermark is the greatest trip `ts` seen; a typed trip is counted unless
  * its window's end is at or before the watermark held before the trigger;
  * and a window whose end the raised watermark reaches is emitted whole,
  * once, with its types' capacities, then moved to `closed`, which no
  * trigger reads again. Lateness is judged by the window's end, not the
  * trip's `ts`. Every open window ends after the watermark, so at most the
  * watermark's own window stays open.
  *
  * The state rebuilds every result table: [[TransitCounters.restore]]
  * emits, for each key the last committed batch holds, the rows a trigger
  * emits when it sees that key for the first time. */
final class TransitCounters extends StatefulProcessor[Int, TransitEvent, Changed] {
  import TransitCounters._

  @transient private var routes: MapState[String, RouteCounters] = _
  @transient private var types: MapState[String, TypeCounters] = _
  @transient private var passengers: MapState[String, Long] = _
  @transient private var operators: MapState[String, OperatorCounters] = _
  @transient private var q3: ValueState[Champion] = _
  @transient private var q10: ValueState[Champion] = _
  @transient private var totals: ValueState[Totals] = _
  @transient private var windows: MapState[Long, WindowCounts] = _
  @transient private var watermark: ValueState[Long] = _
  @transient private var closed: MapState[Long, ClosedWindow] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val h = getHandle
    def map[V](name: String, enc: Encoder[V]) =
      h.getMapState(name, Encoders.STRING, enc, TTLConfig.NONE)
    routes = map("routes", RouteEncoder)
    types = map("types", TypeEncoder)
    passengers = map("passengers", Encoders.scalaLong)
    operators = map("operators", OperatorEncoder)
    q3 = h.getValueState("q3", ChampionEncoder, TTLConfig.NONE)
    q10 = h.getValueState("q10", ChampionEncoder, TTLConfig.NONE)
    totals = h.getValueState("totals", TotalsEncoder, TTLConfig.NONE)
    windows = h.getMapState("windows", Encoders.scalaLong, WindowEncoder, TTLConfig.NONE)
    watermark = h.getValueState("watermark", Encoders.scalaLong, TTLConfig.NONE)
    closed = h.getMapState("closed", Encoders.scalaLong, ClosedEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(key: Int, rows: Iterator[TransitEvent],
                               timerValues: TimerValues): Iterator[Changed] = {
    val (rs, ts) = rows.toSeq.partition(_.kind == "route")
    val out = mutable.ArrayBuffer.empty[Changed]
    val route = new Touched(routes, NoRoute)
    val typ = new Touched(types, NoType)
    val passenger = new Touched(passengers, 0L)
    val operator = new Touched(operators, OperatorCounters(0L, 0L, 0L, 0L))
    val countedTypes = mutable.LinkedHashSet.empty[String]

    rs.filter(_.transport_type != null).foreach { e =>
      val t = typ(e.transport_type)
      typ(e.transport_type) = t.copy(cap = addCap(t.cap, e.capacity))
    }
    val keyed = rs.filter(_.route_id != null)
    keyed.groupBy(_.route_id).foreach { case (id, es) =>
      val r = route(id)
      val caps = es.foldLeft(r.caps) { (cs, e) =>
        cs.indexWhere(_.transport_type == e.transport_type) match {
          case -1 => cs :+ TypeCap(e.transport_type, e.capacity.map(_.toLong))
          case i  => cs.updated(i, cs(i).copy(cap = addCap(cs(i).cap, e.capacity)))
        }
      }
      val newest = es.map(e => LatestRoute(e.transport_type, e.capacity, e.operator, e.ts))
        .max(latestOrder)
      route(id) = r.copy(caps = caps,
        latest = r.latest.filter(old => tsOrder.lt(newest.ts, old.ts)).orElse(Some(newest)))
    }
    ts.foreach { e =>
      val ty = e.transport_type
      if (e.route_id != null) {
        val r = route(e.route_id)
        val newPair = ty != null && !r.tripTypes.contains(ty)
        route(e.route_id) = r.copy(trips = r.trips + 1,
          tripTypes = if (newPair) r.tripTypes :+ ty else r.tripTypes)
        if (ty != null) {
          typ(ty) = typ(ty).copy(q2Trips = typ(ty).q2Trips + 1,
            q2Routes = typ(ty).q2Routes + (if (newPair) 1 else 0))
        }
      }
      if (ty != null) { typ(ty) = typ(ty).copy(trips = typ(ty).trips + 1); countedTypes += ty }
      if (e.passenger_name != null) passenger(e.passenger_name) = passenger(e.passenger_name) + 1
    }

    // q13's per-operator sums follow each touched route's latest emission
    route.now.foreach { case (id, now) =>
      val (was, is) = (contribution(route.before(id)), contribution(now))
      if (was != is) Seq(was -> -1, is -> 1).foreach { case (c, sign) =>
        c.foreach { case (op, capacity, trips) =>
          val o = operator(op)
          operator(op) = OperatorCounters(o.routes + sign, Math.addExact(o.trips, sign * trips),
            Math.addExact(o.cap, sign * capacity.fold(0L)(_.toLong)),
            o.capped + capacity.fold(0)(_ => sign))
        }
      }
    }

    route.now.foreach { case (id, now) => out ++= routeRows(id, route.before(id), now) }
    typ.now.foreach { case (t, now) => out ++= typeRows(t, typ.before(t), now) }
    crown(q3, "q3", passenger.now.toSeq, out)
    crown(q10, "q10", countedTypes.toSeq.map(t => t -> typ(t).trips), out)
    val was = if (totals.exists()) Some(totals.get()) else None
    val now = was.getOrElse(Totals(0L, 0L)) match {
      case Totals(n, c) => Totals(n + ts.size,
        keyed.flatMap(_.capacity).foldLeft(c)((s, x) => Math.addExact(s, x.toLong)))
    }
    if (!was.contains(now)) totals.update(now)
    out ++= totalsRows(was, Some(now))
    advanceWindows(ts, typ, out)
    Seq(route, typ, passenger).foreach(_.write())
    if (operator.write()) out ++= operatorRows(operators.iterator().toSeq)
    out.iterator
  }

  /** Count the trips into their open windows, raise the watermark, then
    * emit every window it closed, with the types' capacities after this
    * trigger's routes, and move it from the open windows to `closed`. */
  private def advanceWindows(trips: Seq[TransitEvent], typ: Touched[TypeCounters],
                             out: mutable.ArrayBuffer[Changed]): Unit = {
    val before = if (watermark.exists()) watermark.get() else 0L
    val timed = trips.filter(_.ts != null)
    val held = windows.iterator().toMap
    val open = mutable.Map.from(held)
    timed.filter(_.transport_type != null).foreach { e =>
      val start = windowStart(e.ts)
      if (start + HourMs > before) {
        val w = open.getOrElse(start, WindowCounts(Map.empty)).types
        open(start) =
          WindowCounts(w.updated(e.transport_type, w.getOrElse(e.transport_type, 0L) + 1))
      }
    }
    val after = timed.foldLeft(before)((m, e) => math.max(m, e.ts.getTime))
    if (after != before) watermark.update(after)
    open.foreach { case (start, w) =>
      if (start + HourMs <= after) {
        val c = ClosedWindow(w.types.toSeq.map { case (t, n) => WindowType(t, n, typ(t).cap) })
        closed.updateValue(start, c)
        out ++= windowRows(start, c)
        if (held.contains(start)) windows.removeKey(start)
      } else if (!held.get(start).contains(w)) windows.updateValue(start, w)
    }
  }

  /** Replace the champion when a touched key's new count beats it: exact,
    * because counts only grow. Emits the champion when it changed. */
  private def crown(state: ValueState[Champion], table: String, touched: Seq[(String, Long)],
                    out: mutable.ArrayBuffer[Changed]): Unit = {
    val old = if (state.exists()) Some(state.get()) else None
    val best = (old.toSeq ++ touched.map { case (k, n) => Champion(k, n) })
      .reduceOption((a, b) => if (beats(b, a)) b else a)
    if (best != old) best.foreach(state.update)
    out ++= championRows(table, old, best)
  }
}

object TransitCounters {

  // the state encoders, derived once per JVM: `init` runs on every trigger,
  // and `Encoders.product` runs Scala reflection each time
  private val RouteEncoder = Encoders.product[RouteCounters]
  private val TypeEncoder = Encoders.product[TypeCounters]
  private val OperatorEncoder = Encoders.product[OperatorCounters]
  private val ChampionEncoder = Encoders.product[Champion]
  private val TotalsEncoder = Encoders.product[Totals]
  private val WindowEncoder = Encoders.product[WindowCounts]
  private val ClosedEncoder = Encoders.product[ClosedWindow]

  private val NoRoute = RouteCounters(None, Nil, 0L, Nil)
  private val NoType = TypeCounters(0L, None, 0L, 0L)

  // The rows a trigger emits, from a key's value before (`was`) and after
  // (`now`) it; a key seen for the first time was the zero value.

  private def routeRows(id: String, was: RouteCounters, now: RouteCounters): Seq[Changed] = {
    val latest = now.latest.filter(_ => now.latest != was.latest).map(l =>
      Changed("routes_latest", id, l.transport_type, capacity = l.capacity,
        operator = l.operator, ts = l.ts))
    // q1 has a row once the route emitted, q5 once it has a trip
    val q1 = Option.when(now.caps != was.caps)(Changed("q1", id,
      cap = now.caps.flatMap(_.cap).reduceOption(Math.addExact(_: Long, _: Long))))
    val q5 = Option.when(now.trips != was.trips)(Changed("q5", id, cnt = Some(now.trips)))
    val trips = Some(now.trips).filter(_ > 0)
    latest.toSeq ++ q1 ++ q5 ++ now.caps.map(c =>
      Changed("route_occupancy", id, c.transport_type, cnt = trips, cap = c.cap))
  }

  /** q2's row, once a keyed trip carried the type. */
  private def typeRows(t: String, was: TypeCounters, now: TypeCounters): Seq[Changed] =
    Option.when(now.q2Trips != was.q2Trips)(
      Changed("q2", t, cnt = Some(now.q2Trips), routes = Some(now.q2Routes))).toSeq

  private def championRows(table: String, was: Option[Champion],
                           now: Option[Champion]): Seq[Changed] =
    now.filter(_ => now != was).map(c => Changed(table, c.key, cnt = Some(c.cnt))).toSeq

  private def totalsRows(was: Option[Totals], now: Option[Totals]): Seq[Changed] =
    now.filter(_ => now != was)
      .map(t => Changed("totals", null, cnt = Some(t.trips), cap = Some(t.cap))).toSeq

  /** Every operator, when one changed; a null operator when none is left. */
  private def operatorRows(all: Seq[(String, OperatorCounters)]): Seq[Changed] =
    if (all.isEmpty) Seq(Changed("operator", null))
    else all.map { case (op, v) =>
      Changed("operator", op, cnt = Some(v.trips), cap = Some(v.cap).filter(_ => v.capped > 0))
    }

  private def windowRows(start: Long, c: ClosedWindow): Seq[Changed] = c.types.map(w =>
    Changed("window", w.transport_type, cnt = Some(w.cnt), cap = w.cap, ts = new Timestamp(start)))

  /** The rows that rebuild every result table from the state of the last
    * committed batch of the query checkpointed at `dir`: for each key held,
    * the rows a trigger emits for it when it was the zero value. Reads the
    * state through Spark's state data source, one job per variable; over a
    * checkpoint with no committed batch it returns nothing and runs no job.
    * A checkpoint with no `closed` variable fails the read. */
  def restore(spark: SparkSession, dir: String): Seq[Changed] = {
    val commits = new Path(dir, "commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(commits) || !fs.listStatus(commits).exists(_.getPath.getName.forall(_.isDigit)))
      return Nil
    // a state store reports to the session's state store coordinator, which
    // Spark registers when it builds the session's stream manager: in a new
    // session (a restarted job) that is only when a query starts
    spark.streams
    def read(name: String, cols: Column*) = spark.read.format("statestore")
      .option("stateVarName", name).load(dir).select(cols: _*)
    def map[K, V](name: String, k: Encoder[K], v: Encoder[V]): Seq[(K, V)] =
      read(name, col("user_map_key.value"), col("user_map_value")).as(Encoders.tuple(k, v))
        .collect().toSeq
    def value[V](name: String, v: Encoder[V]): Option[V] =
      read(name, col("value.*")).as(v).collect().headOption
    val ops = map("operators", Encoders.STRING, OperatorEncoder)
    map("routes", Encoders.STRING, RouteEncoder).flatMap { case (k, v) => routeRows(k, NoRoute, v) } ++
      map("types", Encoders.STRING, TypeEncoder).flatMap { case (k, v) => typeRows(k, NoType, v) } ++
      championRows("q3", None, value("q3", ChampionEncoder)) ++
      championRows("q10", None, value("q10", ChampionEncoder)) ++
      totalsRows(None, value("totals", TotalsEncoder)) ++
      (if (ops.isEmpty) Nil else operatorRows(ops)) ++
      map("closed", Encoders.scalaLong, ClosedEncoder).flatMap { case (k, v) => windowRows(k, v) }
  }

  /** One trigger's view of a map state: each key is read once, and only
    * the keys whose value changed are written back (a key back at `zero`
    * is removed). */
  private final class Touched[V](state: MapState[String, V], zero: V) {
    val before = mutable.Map.empty[String, V]
    val now = mutable.LinkedHashMap.empty[String, V]
    def apply(k: String): V = now.getOrElseUpdate(k, {
      val v = if (state.containsKey(k)) state.getValue(k) else zero
      before(k) = v
      v
    })
    def update(k: String, v: V): Unit = { apply(k); now(k) = v }
    /** Write back; true when any value changed. */
    def write(): Boolean = now.count { case (k, v) =>
      if (v == before(k)) false
      else { if (v == zero) state.removeKey(k) else state.updateValue(k, v); true }
    } > 0
  }

  private val HourMs = 3600L * 1000
  /** The start (epoch ms) of the 1-hour tumbling window holding `ts`. */
  private def windowStart(ts: Timestamp): Long = ts.getTime - Math.floorMod(ts.getTime, HourMs)

  /** `sum`'s fold: nulls are skipped, and a sum over nulls only is null. */
  private def addCap(acc: Option[Long], x: Option[Int]): Option[Long] = (acc, x) match {
    case (Some(a), Some(v)) => Some(Math.addExact(a, v.toLong))
    case (None, v)          => v.map(_.toLong)
    case (a, None)          => a
  }

  /** A route's share of its operator's q13 sums: (operator, capacity, trips). */
  private def contribution(r: RouteCounters): Option[(String, Option[Int], Long)] =
    r.latest.filter(_.operator != null).map(l => (l.operator, l.capacity, r.trips))

  /** Spark's string order (UTF-8 bytes), for the champions' tie on equal counts. */
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def beats(a: Champion, b: Champion): Boolean =
    a.cnt > b.cnt || (a.cnt == b.cnt && utf8(a.key).compareTo(utf8(b.key)) < 0)

  /** Nulls first, as Spark orders them. */
  private def nullsFirst[T](lt: (T, T) => Boolean): Ordering[T] = Ordering.fromLessThan[T] {
    case (a, b) => if (a == null || b == null) a == null && b != null else lt(a, b)
  }
  private val tsOrder = nullsFirst[Timestamp](_ before _)
  private val strOrder = nullsFirst[String]((a, b) => utf8(a).compareTo(utf8(b)) < 0)
  /** A total order on emissions: event time, then content, so equal event
    * times pick the same emission on every replay. */
  private val latestOrder: Ordering[LatestRoute] =
    Ordering.by[LatestRoute, Timestamp](_.ts)(tsOrder)
      .orElseBy(_.transport_type)(strOrder)
      .orElseBy(_.capacity)
      .orElseBy(_.operator)(strOrder)
}
