package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Behavioral-event operators over the `events` table (event_id, ts,
  * user_id, event_type, value, props-JSON) — the clickstream/session
  * family a general analytics engine ships and the reference lacks
  * entirely (SURVEY §2.2 "not have": no session windows, no lag/lead, no
  * funnels; Spark provides all of it declaratively).
  *
  * 100 TB shape: every operator partitions by user_id — sessions and
  * funnels are per-user computations, so the one shuffle is
  * hash(user_id) and each window sees only that user's events (bounded:
  * event-per-user is the natural skew unit; a pathological power user is
  * one partition-internal sort, not a cluster hotspot). The props
  * extraction is a map-only scan. */
object Events {

  /** Session gap: a new session starts after this much user inactivity. */
  val SessionGapMinutes = 120

  /** The gap in epoch-microseconds. `ts` arrives as epoch-µs int64 —
    * [[Tables.events]] normalizes every physical encoding the testdata
    * has shipped (TIMESTAMP NANOS / MICROS) to µs, the finest resolution
    * BOTH engines agree on exactly — so all time arithmetic here is exact
    * integer math (`ts` ≡ DuckDB's `epoch_us(ts)`). */
  val SessionGapMicros: Long = SessionGapMinutes * 60L * 1000L * 1000L

  private val byUserTime = Window.partitionBy("user_id")
    .orderBy(col("ts"), col("event_id"))

  /** Gap-based sessionization: one row per event with its (user-local)
    * session number and whether it opened the session. Deterministic
    * ordering tiebreak on event_id. */
  /** The raw stream with its session columns attached — ONE window pass
    * carrying every payload column through (r18): the former shape
    * returned only ids from [[sessionize]] and each consumer joined the
    * raw stream back on event_id to recover ts/event_type/value — a
    * second scan plus a join per consumer for columns the window pass
    * already had in hand. */
  private def withSessions(events: DataFrame): DataFrame = {
    val prev = lag(col("ts"), 1).over(byUserTime)
    val isStart = prev.isNull || col("ts") > prev + lit(SessionGapMicros)
    events
      .withColumn("is_session_start", isStart)
      .withColumn("session_seq",
        sum(col("is_session_start").cast("long")).over(byUserTime))
  }

  /** Gap-based sessionization: one row per event with its (user-local)
    * session number and whether it opened the session. Deterministic
    * ordering tiebreak on event_id. */
  def sessionize(events: DataFrame): DataFrame =
    withSessions(events)
      .select(col("event_id"), col("user_id"), col("session_seq"),
        col("is_session_start"))

  /** Per-session rollup over [[sessionize]]: event count, error count,
    * value mass, duration in (fractional) seconds. */
  def sessionStats(events: DataFrame): DataFrame =
    withSessions(events)
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        sum("value").as("total_value"),
        ((max("ts") - min("ts")).cast("double") / lit(1e6)).as("duration_sec"))

  /** Per-session ordered event-type sequences — the behavioral-sequence
    * extraction that turns a clickstream into sequence-model training
    * examples (one row per session: its event types in time order,
    * space-joined — the "user journey" a next-action model trains on).
    * Ordering inside a session is deterministic: (ts, event_id), the
    * family's tiebreak convention. Output: (user_id, session_seq,
    * sequence, n_events).
    *
    * 100 TB shape: rides [[sessionize]]'s single hash(user_id) shuffle;
    * the per-session collect is bounded by real user activity (the gap
    * closes a session after [[SessionGapMinutes]] of silence), so the
    * aggregate state is a session's events, never a partition's — the
    * same boundedness argument as the session-window streaming state. */
  def sessionSequences(events: DataFrame): DataFrame =
    withSessions(events)
      .groupBy("user_id", "session_seq")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type"))).as("sequence"),
        count(lit(1)).as("n_events"))

  /** Within-session first-order transition matrix — [[sessionSequences]]'
    * aggregate face: for every (from_type → to_type) pair of CONSECUTIVE
    * events inside one session, the corpus-wide transition count and the
    * conditional probability p(to | from) (row-normalized over observed
    * from-types). The Markov-chain summary next-action models and journey
    * dashboards both start from. Output: (from_type, to_type,
    * n_transitions, p).
    *
    * 100 TB shape: session assignment and the successor lookups are
    * windows over the SAME (user_id) partitioning and (ts, event_id)
    * sort, so the raw stream pays one Exchange + one partition-local
    * sort for all of them; the transition frame is ≤ |types|² rows,
    * its row totals broadcast back. */
  /** The staged ≤|types|² within-session transition-count frame
    * (from_type, to_type, n_transitions) — the one raw-stream pass every
    * markov face starts from. Staged (r17): it feeds the per-from totals
    * AND the probability join; as one lazy frame each reference re-runs
    * the session windows over the raw stream. */
  private def transitionPairs(events: DataFrame): DataFrame = {
    val prev = lag(col("ts"), 1).over(byUserTime)
    val isStart = prev.isNull || col("ts") > prev + lit(SessionGapMicros)
    graft.engine.Staging.stage(events
      .withColumn("session_seq", sum(when(isStart, 1L).otherwise(0L)).over(byUserTime))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUserTime))
      .withColumn("next_seq", lead(col("session_seq"), 1).over(byUserTime))
      .where(col("next_type").isNotNull && col("next_seq") === col("session_seq"))
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions")))
  }

  /** [[markovTransitions]] core over an already-staged pair frame. */
  private def markovTransitionsFrom(pairs: DataFrame): DataFrame = {
    val totals = pairs.groupBy("from_type").agg(sum("n_transitions").as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from")).as("p"))
  }

  def markovTransitions(events: DataFrame): DataFrame =
    markovTransitionsFrom(transitionPairs(events))

  /** Top journeys for [[topJourneys]]. */
  val TopJourneysK = 20

  /** The [[TopJourneysK]] most common complete session journeys — which
    * exact paths dominate the product (the companion readout to
    * [[markovTransitions]]' one-step matrix: the matrix says what tends
    * to follow what, this says which whole walks actually recur).
    * Deterministic tail: count desc, sequence asc. Output: (sequence,
    * n_sessions).
    *
    * 100 TB shape: [[sessionSequences]]' single user-keyed shuffle, a
    * map-side-combined count per distinct journey string, and a
    * TakeOrderedAndProject head — no global sort. */
  def topJourneys(events: DataFrame): DataFrame =
    sessionSequences(events)
      .groupBy("sequence").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("sequence").asc)
      .limit(TopJourneysK)

  /** The funnel stages, in order. */
  val FunnelStages: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** First-touch ordered funnel: a user reaches stage k iff the FIRST
    * occurrence of each stage so far is strictly later than the previous
    * stage's first occurrence (the standard strict-order funnel). Output:
    * one row per stage (stage_idx, stage, n_users).
    *
    * Shape: one groupBy(user) collapsing to 4 first-occurrence
    * timestamps, then a tiny per-user stage computation — the corpus
    * never shuffles twice. */
  /** Per-stage first-occurrence aggregates (`t_<stage>` columns). */
  private def stageFirsts: Seq[Column] = FunnelStages.map(s =>
    min(when(col("event_type") === s, col("ts"))).as(s"t_$s"))

  /** stagesReached = largest k with t_1 < t_2 < ... < t_k (all
    * non-null) — ONE fold shared by the user-grain and session-grain
    * funnels so the chain rule cannot drift. */
  private def stagesReachedCol: Column =
    FunnelStages.zipWithIndex.drop(1).foldLeft(
      when(col(s"t_${FunnelStages.head}").isNotNull, 1).otherwise(0)) {
      case (acc, (s, i)) =>
        when(acc === i &&
          col(s"t_$s") > col(s"t_${FunnelStages(i - 1)}"), i + 1).otherwise(acc)
    }

  /** The `(stage_idx, stage)` dimension frame. */
  private def stagesDim(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    FunnelStages.zipWithIndex.map { case (s, i) => (i + 1, s) }
      .toDF("stage_idx", "stage")
  }

  def funnel(events: DataFrame): DataFrame = {
    val firsts = events
      .groupBy("user_id")
      .agg(stageFirsts.head, stageFirsts.tail: _*)
    val perUser = firsts.select(col("user_id"),
      stagesReachedCol.as("stages_reached"))
    stagesDim(events)
      .join(perUser, col("stages_reached") >= col("stage_idx"), "left")
      .groupBy("stage_idx", "stage")
      .agg(count(col("user_id")).as("n_users"))
  }

  /** Within-session funnel — [[funnel]] at the VISIT grain: how many
    * sessions progress signup → view → click → purchase before the gap
    * closes them. The product question ("does a visit convert?") is
    * different from the user-lifetime one ([[funnel]]), and the ratio
    * of the two tables is the classic multi-visit-conversion readout.
    * Same first-occurrence chain rule via the SHARED [[stagesReachedCol]]
    * fold. Output: (stage_idx, stage, n_sessions).
    *
    * 100 TB shape: rides [[sessionize]]'s one hash(user) window
    * exchange; the per-(user, session) firsts aggregate collapses each
    * session to ≤|stages| timestamps map-side, and the stage dimension
    * is a 4-row broadcast. */
  def sessionFunnel(events: DataFrame): DataFrame = {
    val withSess = withSessions(events)
    val firsts = withSess
      .groupBy("user_id", "session_seq")
      .agg(stageFirsts.head, stageFirsts.tail: _*)
    val perSession = firsts.select(col("user_id"), col("session_seq"),
      stagesReachedCol.as("stages_reached"))
    stagesDim(events)
      .join(perSession, col("stages_reached") >= col("stage_idx"), "left")
      .groupBy("stage_idx", "stage")
      .agg(count(col("user_id")).as("n_sessions"))
  }

  /** Typed extraction from the JSON props column — the schema-on-read
    * path (map-only; at scale this is the pattern for sparse telemetry
    * attributes that don't earn a physical column). */
  def propsExtract(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Minimum distinct users per quasi-identifier cell for [[kAnonymity]]
    * (5 is the conventional floor; a real audit takes it from policy). */
  val KAnonThreshold = 5L

  /** k-anonymity audit over the quasi-identifier pair
    * (event_type, props.k) — the privacy gate beyond regex PII: a cell
    * observed for fewer than [[KAnonThreshold]] distinct users
    * re-identifies them by metadata alone, so publish/suppress
    * decisions for a behavioral dataset come straight off this table.
    * One row per observed cell: (event_type, k, n_users, n_events,
    * k_anonymous).
    *
    * 100 TB shape: the JSON extraction is the same map-only
    * schema-on-read as [[propsExtract]]; one two-phase (type, k)
    * aggregation (the distinct-user count rides Expand in the same
    * tree); nothing else moves. */
  def kAnonymity(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("user_id"))
      .groupBy("event_type", "k")
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .withColumn("k_anonymous", col("n_users") >= KAnonThreshold)

  /** The audit EXECUTED — the suppression list: every event sitting in
    * a cell [[kAnonymity]] flagged (the rows a publisher drops or
    * generalizes before release). The plan→apply pairing mirrors
    * `corpus_mix_plan`→`mix_apply`. One row per suppressed event:
    * (event_id, event_type, k).
    *
    * 100 TB shape: the flagged-cell table is tiny by construction
    * (every cell in it has < [[KAnonThreshold]] users) and broadcasts;
    * the corpus side is one map-side null-safe hash probe — no
    * re-aggregation, no corpus shuffle. */
  def kAnonymityApply(events: DataFrame): DataFrame = {
    val flagged = kAnonymity(events).where(!col("k_anonymous"))
      .select(col("event_type").as("f_type"), col("k").as("f_k"))
    events.select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .join(broadcast(flagged),
        col("event_type") === col("f_type") && col("k") <=> col("f_k"))
      .select("event_id", "event_type", "k")
  }

  /** Quantile probes for [[valueQuantiles]]. */
  val QuantileProbes: Seq[Double] = Seq(0.5, 0.95, 0.99)

  /** Exact per-type value percentiles (linear interpolation — the same
    * definition as DuckDB's `quantile_cont`, so the oracle matches to
    * float tolerance). At 100 TB the swap-in is `approx_percentile`
    * (t-digest, mergeable, no per-group sort); exact is right here
    * because the oracle must be deterministic. */
  def valueQuantiles(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(percentile(col("value"),
        array(QuantileProbes.map(lit): _*)).as("q"))
      .select(col("event_type"),
        col("q").getItem(0).as("p50"),
        col("q").getItem(1).as("p95"),
        col("q").getItem(2).as("p99"))

  /** The 100 TB swap-in [[valueQuantiles]] documents: mergeable
    * approximate percentiles (Spark's `percentile_approx` sketch — no
    * per-group sort, partial states merge map-side). NOT registered at
    * the oracle: the sketch is engine-specific; `EventsSpec` pins its
    * error against the exact query instead (the [[TransitQueries.q2Approx]]
    * convention for approximate twins). */
  def valueQuantilesApprox(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events.groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(QuantileProbes.map(lit): _*), lit(accuracy)).as("q"))
      .select(col("event_type"),
        col("q").getItem(0).as("p50"),
        col("q").getItem(1).as("p95"),
        col("q").getItem(2).as("p99"))

  /** Microseconds per day (for the portable integer day index). Shared
    * with the streaming faces so the day grain cannot drift between
    * batch and stream. */
  private[graft] val UsPerDay = 86400L * 1000L * 1000L

  /** Daily × event-type counts with ROLLUP subtotals — the
    * multi-dimensional aggregation surface (per (day, type), per day, and
    * grand total in ONE pass; Catalyst expands the grouping sets into a
    * single shuffle). Day = epoch-µs integer division, portable. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .select(expr(s"ts div $UsPerDay").as("day_idx"), col("event_type"))
      .rollup("day_idx", "event_type")
      .agg(count(lit(1)).as("n_events"))

  /** Daily cohort retention — the classic activation curve: users cohort
    * by their FIRST active day; for every (cohort_day, day_offset) cell,
    * how many of that cohort were active `offset` days after joining,
    * and what fraction of the cohort that is. Output: (cohort_day,
    * day_offset, n_active, cohort_size, retention); offset 0 is the
    * cohort itself (retention 1.0).
    *
    * 100 TB shape: the corpus collapses to distinct (user, day) pairs in
    * one map-side-combined aggregation, cohorts are a per-user min (same
    * shuffle key), the activity matrix is a second aggregation over the
    * already-tiny distinct-day frame, and cohort sizes (≤ #days rows)
    * broadcast into the final join. The raw event stream is never
    * shuffled twice. Day boundaries are exact integer division of
    * epoch-µs on both engines. */
  def retention(events: DataFrame): DataFrame = {
    // r18: the cohort day rides the SAME hash(user) pass as the distinct
    // (a per-user min window over the distinct frame) — the former
    // separate cohort staging and the days⋈cohort join are gone; ONE
    // staged activity frame feeds the sizes rollup and the activity
    // matrix. A user's cohort row is exactly the row with
    // day == cohort_day, so sizes come off the same frame.
    val activity = graft.engine.Staging.stage(events
      .select(col("user_id"), expr(s"ts div $UsPerDay").as("day"))
      .distinct()
      .withColumn("cohort_day",
        min("day").over(Window.partitionBy("user_id"))))
    val sizes = activity.where(col("day") === col("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    activity
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
  }

  /** Daily growth accounting — the standard DAU decomposition every
    * growth dashboard carries (the flow view of [[retention]]'s cohort
    * stock view): for each day, how many active users are NEW (first
    * observed day), RETAINED (also active the previous day), or
    * RESURRECTED (returning after a gap ≥ 2 days), plus how many
    * CHURNED into the day (active the previous day but not this one —
    * attributed to the first inactive day). new + retained +
    * resurrected = the day's DAU, and every churn is later cancelled by
    * a resurrection or stands at corpus end; churn is censored at the
    * last observed day (nobody can churn past the observation window).
    * Output: (day, n_new, n_retained, n_resurrected, n_churned).
    *
    * 100 TB shape: ONE hash(user) exchange — the per-user distinct
    * active days collapse map-side into a bounded sorted array (≤ the
    * observation window's day count), classification and churn emission
    * are per-row array ops, and the day rollup is a map-side-combined
    * sum over ≤ 2 emitted rows per user-day. The corpus-end bound is a
    * 1-row broadcast. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val lastDay = events.agg(expr(s"max(ts div $UsPerDay)").as("last_day"))
    val perUser = events
      .select(col("user_id"), expr(s"ts div $UsPerDay").as("day"))
      .groupBy("user_id")
      .agg(sort_array(array_distinct(collect_list("day"))).as("days"))
      .crossJoin(broadcast(lastDay))
    val ex = perUser
      .select(posexplode(col("days")).as(Seq("i", "day")),
        col("days"), col("last_day"))
      // element_at is 1-based, i is the 0-based position: element_at(days,
      // i) is the PREVIOUS active day, element_at(days, i + 2) the NEXT —
      // both guarded so the 1-based bounds are never violated
      .withColumn("prev",
        when(col("i") > 0, element_at(col("days"), col("i"))))
      .withColumn("nxt",
        when(col("i") < size(col("days")) - 1,
          element_at(col("days"), col("i") + 2)))
    ex.select(explode(array(
        struct(col("day").as("day"),
          when(col("prev").isNull, lit("new"))
            .when(col("prev") === col("day") - 1, lit("retained"))
            .otherwise(lit("resurrected")).as("kind")),
        struct((col("day") + 1).as("day"),
          when(col("day") < col("last_day") &&
              (col("nxt").isNull || col("nxt") > col("day") + 1),
            lit("churned")).as("kind")))).as("r"))
      .where(col("r.kind").isNotNull)
      .groupBy(col("r.day").as("day"))
      .agg(
        sum(when(col("r.kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("r.kind") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("r.kind") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("r.kind") === "churned", 1L).otherwise(0L)).as("n_churned"))
  }

  /** Time-to-convert — the latency companion of [[funnel]]: per user with
    * any 'view', the first view, the first strictly-later 'purchase', and
    * the lag between them in seconds (null lag / converted=false when the
    * user never purchased after first viewing). Exact integer-µs
    * arithmetic until the final division. One row per viewing user.
    *
    * 100 TB shape: ONE map-side-combined groupBy(user) collapsing the
    * stream to two first-occurrence timestamps — the same single-shuffle
    * shape as [[funnel]]'s firsts. */
  def conversionLag(events: DataFrame): DataFrame = {
    // first view via a per-user window FIRST, so the purchase aggregate
    // can condition on it: "first purchase overall" would misclassify a
    // user who purchased before ever viewing and again after (their
    // post-view conversion must still count)
    val fv = min(when(col("event_type") === "view", col("ts")))
      .over(Window.partitionBy("user_id"))
    events
      .withColumn("fv", fv)
      .where(col("fv").isNotNull)
      .groupBy("user_id")
      .agg(min(col("fv")).as("first_view_us"),
        min(when(col("event_type") === "purchase" && col("ts") > col("fv"),
          col("ts"))).as("first_purchase_us"))
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        ((col("first_purchase_us") - col("first_view_us")).cast("double") / 1e6)
          .as("lag_sec"),
        col("first_purchase_us").isNotNull.as("converted"))
  }

  /** Z-score threshold for [[dailyAnomaly]]. */
  val AnomalyZMax = 3.0

  /** Daily-volume anomaly detection — the monitoring query every event
    * pipeline runs: per (event_type, day), the day's event count scored
    * against that type's own daily distribution (z-score over all days;
    * |z| > [[AnomalyZMax]] flags the cell). Mean/variance come from exact
    * integer sums (count, Σcnt, Σcnt²), so only the final divisions and
    * sqrt are floating-point. Output: (event_type, day, n_events,
    * mean_daily, z, anomalous).
    *
    * 100 TB shape: the corpus collapses to (type, day) grain in one
    * map-side-combined aggregation; the per-type moment frame is ≤ #types
    * rows and broadcasts back into the daily frame — the raw stream is
    * shuffled once and never sorted. */
  def dailyAnomaly(events: DataFrame): DataFrame =
    scoreDaily(dailyCounts(events))

  /** The (event_type, day) count grain of [[dailyAnomaly]] — also the unit
    * the streaming monitor accumulates per micro-batch
    * ([[graft.streaming.StreamingDailyMonitor.anomaly]]), so batch and streaming score
    * the same frame. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr(s"ts div $UsPerDay").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))

  /** The shared z-score leg of the anomaly faces: score each `daily` row
    * against the exact-integer-moment distribution of its `keys` group.
    * ONE implementation for the raw ([[scoreDaily]]) and day-of-week
    * ([[dowAnomaly]]) groupings so the scoring math cannot drift. */
  private def zScoreBy(daily: DataFrame, keys: Seq[String],
                       meanAlias: String): DataFrame = {
    val stats = daily.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_days"),
      sum("n_events").as("sum_cnt"),
      sum(col("n_events") * col("n_events")).as("sum_sq"))
    val mean = col("sum_cnt").cast("double") / col("n_days")
    val variance = col("sum_sq").cast("double") / col("n_days") - mean * mean
    val z = when(variance > 0,
      (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    daily.join(broadcast(stats), keys)
      .withColumn(meanAlias, mean)
      .withColumn("z", z)
      .withColumn("anomalous", abs(z) > AnomalyZMax)
      .drop("n_days", "sum_cnt", "sum_sq")
  }

  /** Score a (event_type, day, n_events) frame: z against the type's own
    * daily distribution. Shared by the batch query and the streaming
    * monitor. */
  def scoreDaily(daily: DataFrame): DataFrame =
    zScoreBy(daily, Seq("event_type"), "mean_daily")
      .select(col("event_type"), col("day"), col("n_events"),
        col("mean_daily"), col("z"), col("anomalous"))

  /** Day-of-week–adjusted anomaly detection — [[dailyAnomaly]]'s fix for
    * weekly seasonality (which [[seasonality]] MEASURES and the raw
    * per-type z then false-alarms on: every weekend looks 3σ quiet
    * against a pooled weekday mean): each (type, day) count scores
    * against the distribution of its own weekday slot (dow = day mod 7 —
    * the portable integer grain, no calendar), so a quiet Sunday is
    * normal among Sundays and a quiet Tuesday alarms. Same exact
    * integer moment sums and [[AnomalyZMax]] gate as the raw face.
    * Output: (event_type, day, dow, n_events, mean_dow, z, anomalous).
    *
    * 100 TB shape: identical to [[dailyAnomaly]] — one shuffle to the
    * (type, day) grain; the 7×-types stats table broadcasts back. */
  def dowAnomaly(events: DataFrame): DataFrame =
    zScoreBy(dailyCounts(events).withColumn("dow", pmod(col("day"), lit(7L))),
      Seq("event_type", "dow"), "mean_dow")
      .select(col("event_type"), col("day"), col("dow"), col("n_events"),
        col("mean_dow"), col("z"), col("anomalous"))

  /** Spike factor for [[anomalyProbe]]. */
  val AnomalySpike = 5

  /** Anomaly recovery probe: no synthetic day is anomalous (0/150 at the
    * oracle), so the `anomalous = true` branch never fires there. The
    * earliest day of each type is spiked [[AnomalySpike]]× AT THE COUNT
    * GRAIN on both engines, then scored through the same [[scoreDaily]]
    * math — the spiked cell must flag, its neighbors must not. */
  def anomalyProbe(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    scoreDaily(dailyCounts(events)
      .withColumn("md", min("day").over(w))
      .select(col("event_type"), col("day"),
        when(col("day") === col("md"), col("n_events") * AnomalySpike)
          .otherwise(col("n_events")).as("n_events")))
  }

  /** Conversion recovery probe: every synthetic viewer converts (150/150
    * at the oracle), so the unconverted branch — null first purchase,
    * null lag — never fires there. Even-user purchases are filtered out
    * on both engines before [[conversionLag]]: those viewers must come
    * back unconverted with null lag. */
  def conversionProbe(events: DataFrame): DataFrame =
    conversionLag(events.where(
      !(col("event_type") === "purchase" && col("user_id") % 2 === 0)))

  /** RFM user metrics — the classic segmentation triple every behavioral
    * pipeline computes: per user, days since last activity (recency,
    * anchored to the corpus's latest event — the batch-closed-world analog
    * of "as of now"), total events (frequency), and purchase value mass
    * (monetary). Downstream segmentation (quintile labels, champions/
    * at-risk grids) is a rank exercise over these exact metrics. Output:
    * (user_id, recency_days, frequency, monetary).
    *
    * 100 TB shape: ONE map-side-combined groupBy(user) over the stream;
    * the 1-row corpus anchor broadcasts back. Day grain is the family's
    * exact integer-µs division. */
  def rfm(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id").agg(
      max("ts").as("last_ts"),
      count(lit(1)).as("frequency"),
      sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
        .as("monetary"))
    val anchor = per.agg(max("last_ts").as("corpus_last"))
    per.crossJoin(broadcast(anchor))
      .select(col("user_id"),
        expr(s"(corpus_last div $UsPerDay) - (last_ts div $UsPerDay)")
          .as("recency_days"),
        col("frequency"), col("monetary"))
  }

  /** Next-event prediction eval — the sequence-model sibling of
    * [[forecastBacktest]]: score the first-order Markov model
    * ([[markovTransitions]]) as a predictor, in-sample top-1. Because
    * the top-1 prediction for a context is its modal transition, the
    * whole eval derives from the transition matrix: per from-type, the
    * predicted next type (modal target, ties to the smaller type), how
    * many observed transitions it gets right (the modal count), and
    * accuracy — the number any richer sequence model must beat. Output:
    * (from_type, n_pairs, predicted_to, n_correct, accuracy).
    *
    * 100 TB shape: [[markovTransitions]]' cost (one user-keyed window
    * pass) plus a |types|²-row rollup — nothing new touches the
    * corpus. */
  def markovEval(events: DataFrame): DataFrame =
    // r18: reads the staged pair counts directly — the probability join
    // contributes no column here (p was pruned but its join was not)
    transitionPairs(events)
      .groupBy("from_type")
      .agg(sum("n_transitions").as("n_pairs"),
        // min over (-count, to_type): modal target, ties to smaller type
        min(struct((-col("n_transitions")).as("neg"), col("to_type"))).as("m"))
      .select(col("from_type"), col("n_pairs"),
        col("m.to_type").as("predicted_to"),
        (-col("m.neg")).as("n_correct"),
        ((-col("m.neg")).cast("double") / col("n_pairs")).as("accuracy"))

  /** Lifecycle thresholds for [[churnSegments]]: last activity within
    * [[ChurnActiveDays]] days of the corpus anchor → `active`, within
    * [[ChurnAtRiskDays]] → `at_risk`, older → `churned`. */
  val ChurnActiveDays = 7L
  val ChurnAtRiskDays = 14L

  /** User-lifecycle segmentation — the churn rollup every retention team
    * derives from [[rfm]]'s recency axis: bucket each user by days since
    * their last event (anchored to the corpus's latest event, the
    * batch-closed-world "now"), then report each segment's population,
    * event mass, and purchase-value mass. Output one row per non-empty
    * segment: (segment, n_users, total_events, total_value).
    *
    * 100 TB shape: same as [[rfm]] — one map-side-combined groupBy(user)
    * collapse of the raw stream, a 1-row max anchor broadcast back, then
    * a 3-row segment aggregation. No join ever carries raw events. */
  /** The lifecycle CASE over a recency-in-days column — ONE definition
    * shared by [[churnSegments]] and the continuous ledger face
    * ([[graft.streaming.StreamingChurn]]) so the boundaries can't drift. */
  def segmentOf(recencyDays: Column): Column =
    when(recencyDays <= ChurnActiveDays, "active")
      .when(recencyDays <= ChurnAtRiskDays, "at_risk")
      .otherwise("churned")

  /** Segment rollup over a per-user ledger (user_id, last_ts, n_events,
    * purchase_value) against an anchor — the second half of
    * [[churnSegments]], callable on a continuously-maintained ledger. */
  def segmentsOfLedger(ledger: DataFrame): DataFrame = {
    val anchor = ledger.agg(max("last_ts").as("corpus_last"))
    ledger.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        expr(s"(corpus_last div $UsPerDay) - (last_ts div $UsPerDay)"))
      .withColumn("segment", segmentOf(col("recency_days")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        sum("n_events").as("total_events"),
        sum("purchase_value").as("total_value"))
  }

  def churnSegments(events: DataFrame): DataFrame =
    // staged (r17): segmentsOfLedger reads its ledger twice (anchor +
    // segment rollup); the batch face materializes the per-user collapse
    // once instead of re-aggregating the raw stream per reference. (The
    // streaming face passes an already-materialized state ledger, which
    // is why the staging sits HERE and not in segmentsOfLedger.)
    segmentsOfLedger(graft.engine.Staging.stage(events.groupBy("user_id").agg(
      max("ts").as("last_ts"),
      count(lit(1)).as("n_events"),
      sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
        .as("purchase_value"))))

  /** Churn recovery probe: the synthetic stream's users are all active at
    * every sf (uniform event times → every last-seen lands within days of
    * the corpus anchor), so [[churnSegments]]' at-risk/churned branches
    * never fire against raw testdata. Cap each user's activity at an
    * absolute offset before the corpus anchor — user%3==1 silenced for
    * the last 10 days (→ at_risk), user%3==2 for the last 20 (→ churned);
    * exact integer-µs arithmetic on both engines — so all three segments
    * materialize and the oracle checks the full CASE. (A user with no
    * event before their cap drops out on both sides, which only happens
    * when the corpus spans fewer days than the offset.) */
  /** The probe-convention activity caps — ONE definition shared by
    * [[churnProbe]] and [[survivalProbe]] (and mirrored once in SQL by
    * [[silencedSqlWith]]) so the cohort constants cannot drift between
    * the lifecycle and survival faces: user%3==1 silenced for the last
    * 10 days before the anchor, user%3==2 for 20, user%3==0 untouched. */
  private def silencedEvents(events: DataFrame): DataFrame = {
    val bounds = events.agg(max("ts").as("t1"))
    val cap = col("t1") - when(col("user_id") % 3 === 1, 10L * UsPerDay)
      .when(col("user_id") % 3 === 2, 20L * UsPerDay)
      .otherwise(0L)
    events.crossJoin(broadcast(bounds))
      .where(col("ts") <= cap)
      .select(events.columns.toIndexedSeq.map(col): _*)
  }

  def churnProbe(events: DataFrame): DataFrame =
    churnSegments(silencedEvents(events))

  /** Kaplan–Meier survival estimator over user lifetimes — the
    * censoring-aware retention curve [[churnSegments]]' point-in-time
    * rollup cannot give: a user whose last activity is more than
    * [[ChurnAtRiskDays]] days before the corpus anchor is an observed
    * DEATH with lifetime last−first days; everyone still active is
    * CENSORED at lifetime anchor−first (alive at least this long — the
    * information naive "average lifetime" throws away and K-M uses).
    * At each death time t: n_risk = users with lifetime ≥ t, and
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/n_riskᵢ), computed as exp of the ordered
    * cumulative Σ ln((n−d)/n) — every factor from exact integer counts,
    * accumulated in ascending-t order on BOTH engines, so the oracle
    * compares within float tolerance. One row per death time:
    * (t_days, n_risk, n_deaths, survival).
    *
    * 100 TB shape: one map-side-combined groupBy(user) collapse of the
    * raw stream, a 1-row anchor broadcast, a ≤|distinct lifetimes|-row
    * per-day ledger (bounded by the corpus day span — the documented
    * tiny-ledger exception to the no-global-window rule), two ordered
    * windows over that ledger, nothing else. Raw events never join. */
  def kaplanMeier(events: DataFrame): DataFrame = {
    // staged (r17): perUser feeds the anchor AND the lifetime projection;
    // unstaged, the raw-stream groupBy(user) ran once per reference
    val perUser = graft.engine.Staging.stage(events.groupBy("user_id")
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts")))
    val anchor = perUser.agg(max("last_ts").as("corpus_last"))
    val lt = perUser.crossJoin(broadcast(anchor))
      .select(
        expr(s"(corpus_last div $UsPerDay) - (last_ts div $UsPerDay)")
          .as("recency_days"),
        expr(s"(last_ts div $UsPerDay) - (first_ts div $UsPerDay)")
          .as("observed_days"),
        expr(s"(corpus_last div $UsPerDay) - (first_ts div $UsPerDay)")
          .as("window_days"))
      .select(
        when(col("recency_days") > ChurnAtRiskDays, col("observed_days"))
          .otherwise(col("window_days")).as("t"),
        (col("recency_days") > ChurnAtRiskDays).as("death"))
    // staged (r17): the ledger feeds the 1-row user total AND the
    // survival windows
    val ledger = graft.engine.Staging.stage(lt.groupBy("t").agg(
      sum(when(col("death"), 1L).otherwise(0L)).as("n_deaths"),
      count(lit(1)).as("n_total")))
    val nUsers = ledger.agg(sum("n_total").as("n_users"))
    val before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    ledger.crossJoin(broadcast(nUsers))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum("n_total").over(before), lit(0L)))
      // censored-only rows contribute ln(1) = 0, so the cumulative sum
      // over ALL ledger rows equals the sum over death times alone. A
      // death time that EXHAUSTS the risk set (n_risk == n_deaths — by
      // construction the last ledger row) contributes −∞ explicitly, so
      // exp gives the true S = 0.0 on both engines: Spark's log(0) is
      // NULL (silently dropped by the window sum → a false survival of
      // 1.0) and DuckDB's ln(0) throws, so neither may ever be evaluated.
      .withColumn("lnterm", when(col("n_deaths") > 0,
          when(col("n_risk") > col("n_deaths"),
            log((col("n_risk") - col("n_deaths")).cast("double")
              / col("n_risk")))
          .otherwise(lit(Double.NegativeInfinity))).otherwise(lit(0.0)))
      .withColumn("survival", exp(sum("lnterm").over(upTo)))
      .where(col("n_deaths") > 0)
      .select(col("t").as("t_days"), col("n_risk"), col("n_deaths"),
        round(col("survival"), 6).as("survival"))
  }

  /** The registered face — [[silencedEvents]]' activity caps (the
    * synthetic stream's users are ALL active, so the raw table has zero
    * observed deaths and the estimator would be vacuous). Cohort roles
    * for the estimator: user%3==2 (20-day silence, recency > 14) are the
    * OBSERVED DEATHS; user%3==1 (10-day silence, recency ≤ 14) are
    * censored EARLY — a shorter time-under-observation than the
    * untouched %3==0 cohort, so the probe exercises deaths plus two
    * distinct censoring depths. */
  def survivalProbe(events: DataFrame): DataFrame =
    kaplanMeier(silencedEvents(events))

  /** Per-user inter-arrival profile — the gap distribution that JUSTIFIES
    * a sessionization gap parameter ([[SessionGapMinutes]]): for each
    * user, the count/mean/lower-median/max of consecutive-event gaps and
    * how many gaps exceed the session gap (each such gap is exactly one
    * session boundary, so `n_over_gap + 1 == max(session_seq)` — pinned
    * by `CrossOpInvariantSpec`). The median is the LOWER order statistic
    * (index ⌊(n-1)/2⌋), an exact integer — not an interpolated float —
    * so the oracle compare is exact. Output: (user_id, n_gaps,
    * mean_gap_us, p50_gap_us, max_gap_us, n_over_gap).
    *
    * 100 TB shape: one hash(user) exchange feeding a partition-local
    * sort shared by the lag window, the rank window, and the final
    * groupBy(user) (Catalyst reuses the sort child for same-spec
    * windows; the aggregation is partial before any further movement).
    * A pathological power user is one in-partition sort, not a hotspot. */
  def interarrival(events: DataFrame): DataFrame = {
    val gaps = events
      .withColumn("gap_us", col("ts") - lag(col("ts"), 1).over(byUserTime))
      .where(col("gap_us").isNotNull)
    val byUserGap = Window.partitionBy("user_id")
      .orderBy(col("gap_us"), col("event_id"))
    val byUser = Window.partitionBy("user_id")
    gaps
      .withColumn("rn", row_number().over(byUserGap))
      .withColumn("n", count(lit(1)).over(byUser))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        (sum("gap_us").cast("double") / count(lit(1))).as("mean_gap_us"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("gap_us")))
          .as("p50_gap_us"),
        max("gap_us").as("max_gap_us"),
        sum(when(col("gap_us") > SessionGapMicros, 1L).otherwise(0L))
          .as("n_over_gap"))
  }

  private[graft] val UsPerMinute = 60L * 1000L * 1000L
  /** [[botFlag]] burst cut: ≥ this many events inside one calendar
    * minute is beyond human interaction rates. */
  val BotBurstPerMin = 10L
  /** [[botFlag]] regularity gate: metronome detection needs at least
    * this many gaps before a dominant exact gap means anything. */
  val BotMinGaps = 20L
  /** [[botFlag]] regularity cut: share of consecutive gaps landing on
    * ONE exact µs value (humans never repeat a µs-precise cadence;
    * timer-driven clients do little else). */
  val BotRegularShare = 0.5

  /** Bot/automation flagging — the traffic-hygiene gate a behavioral
    * pipeline runs before events feed anything downstream (training
    * data, metrics, experiments): per user, total events, the burst
    * maximum (events in any one calendar minute), and the metronome
    * signal (share of consecutive gaps equal to the user's most common
    * EXACT µs gap). `is_bot` when the burst tops [[BotBurstPerMin]] or
    * ≥[[BotMinGaps]] gaps concentrate ≥[[BotRegularShare]] on a single
    * value. All-integer math plus one exact division, so the oracle
    * compare is exact; single-event users carry null share and flag on
    * burst alone. Output: (user_id, n_events, max_per_min, n_gaps,
    * top_gap_share, is_bot).
    *
    * 100 TB shape: two independent single-pass branches over the
    * pruned (user, ts, event_id) scan — a (user, minute) two-phase
    * rollup whose exchange carries minute-collapsed rows, and
    * [[interarrival]]'s one-hash(user) window pass whose per-user
    * finishers reuse the window's partitioning with NO further
    * exchange — joined user-keyed at the end (broadcast under AQE at
    * test scale, co-partitioned at 100 TB). No branch reads the other's
    * input twice and nothing stages corpus-sized state. */
  def botFlag(events: DataFrame): DataFrame = {
    val bursts = events
      .select(col("user_id"), expr(s"ts div $UsPerMinute").as("minute"))
      .groupBy("user_id", "minute").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(max("c").as("max_per_min"), sum("c").as("n_events"))
    val regular = events
      .withColumn("gap_us", col("ts") - lag(col("ts"), 1).over(byUserTime))
      .where(col("gap_us").isNotNull)
      .groupBy("user_id", "gap_us").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(max("c").as("top_gap_n"), sum("c").as("n_gaps"))
    bursts.join(regular, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("max_per_min"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
        (col("top_gap_n").cast("double") / col("n_gaps"))
          .as("top_gap_share"))
      .withColumn("is_bot", col("max_per_min") >= BotBurstPerMin ||
        (col("n_gaps") >= BotMinGaps &&
          col("top_gap_share") >= BotRegularShare))
  }

  /** Conversion horizon for [[abLift]]: a user "converts" when their
    * first purchase lands within this window of their first activity.
    * (Plain "has a purchase" is degenerate on the synthetic stream —
    * every user eventually buys, p̂=1 zeroes the pooled variance.) */
  val AbConvHorizonUs: Long = 24L * 3600L * 1000L * 1000L

  /** A/B experiment readout — the two-proportion z-test every growth
    * experiment ends in, computed engine-side: users hash-split into two
    * arms (`user_id % 2` — the repo's established deterministic split,
    * cf. [[conversionProbe]]; production swaps in a salted portable
    * hash), conversion = first purchase within [[AbConvHorizonUs]] of
    * first activity, and the single output row carries both arms' rates,
    * the absolute lift, and the pooled-variance z-score
    * (z = (rate_b − rate_a) / √(p̂(1−p̂)(1/n_a+1/n_b)), NULL via
    * `nullif` when the pooled variance degenerates to 0 — identical
    * guard text on both engines). The split is uncorrelated with
    * behavior, so the expected readout is a null experiment — lift ≈ 0,
    * |z| small — which is exactly what validates the statistic. All
    * doubles derive from integer counts through the same expression
    * shape on both engines, so the compare is deterministic. Output:
    * (n_a, n_b, conv_a, conv_b, rate_a, rate_b, lift, z_score).
    *
    * 100 TB shape: ONE map-side-combined groupBy(user) collapse (two
    * min's), a 2-row arm aggregate, a 1-row pivot — after the first
    * partial aggregation nothing scales with the corpus. */
  def abLift(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id").agg(
        min("ts").as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("first_purchase"))
      .select(col("user_id"),
        (col("first_purchase").isNotNull &&
          col("first_purchase") <= col("first_ts") + AbConvHorizonUs)
          .cast("long").as("converted"))
    val arms = per
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .groupBy("arm").agg(
        count(lit(1)).as("n_users"),
        sum("converted").as("n_conv"))
    arms.agg(
        sum(when(col("arm") === 0, col("n_users"))).as("n_a"),
        sum(when(col("arm") === 1, col("n_users"))).as("n_b"),
        sum(when(col("arm") === 0, col("n_conv"))).as("conv_a"),
        sum(when(col("arm") === 1, col("n_conv"))).as("conv_b"))
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b"))
      .withColumn("lift", col("rate_b") - col("rate_a"))
      .withColumn("z_score",
        col("lift") / nullif(sqrt(
          ((col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
            * (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
            * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), lit(0.0)))
  }

  /** Day-of-week seasonality profile — the seasonal-index decomposition
    * behind every traffic forecast: collapse to daily counts, bucket days
    * by epoch weekday (`day % 7`; day 0 = 1970-01-01, a Thursday — the
    * label mapping is presentation, the index math is not), and report
    * each weekday's average daily volume against the corpus-wide average
    * (seasonal_index = dow_avg / overall_avg). Output: (dow, n_days,
    * n_events, avg_events, seasonal_index).
    *
    * 100 TB shape: the only corpus-sized work is the two-phase collapse
    * to day grain (map-side partial counts); the 7-row weekday rollup and
    * the 1-row overall anchor are constant-size from there. */
  def seasonality(events: DataFrame): DataFrame = {
    val daily = events.select(expr(s"ts div $UsPerDay").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    // staged: the 7-row dow table feeds BOTH the overall anchor and the
    // final select — without staging each consumer re-collapses the
    // corpus to day grain (the PlanShapeSpec pin caught the double scan)
    val per = graft.engine.Staging.stage(daily
      .withColumn("dow", expr("day % 7").cast("int"))
      .groupBy("dow").agg(
        count(lit(1)).as("n_days"),
        sum("n").as("n_events"),
        (sum("n").cast("double") / count(lit(1))).as("avg_events")))
    // Σ n_events / Σ n_days ≡ the all-days average (same integer sums,
    // same single division), derived from the staged 7 rows for free
    val overall = per.agg(
      (sum("n_events").cast("double") / sum("n_days")).as("overall_avg"))
    per.crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"), col("n_events"), col("avg_events"),
        (col("avg_events") / col("overall_avg")).as("seasonal_index"))
  }

  /** Seasonal-naive forecast backtest — the baseline every traffic
    * forecasting effort must beat, and the measurement harness that says
    * by how much: forecast(type, day) = the same type's count seven days
    * earlier, scored on every day where both sides exist. Per type:
    * match count, mean absolute error, mean absolute percentage error,
    * and signed bias (positive = the naive model overshoots, i.e. volume
    * is shrinking week-over-week). Output: (event_type, n_scored, mae,
    * mape, bias).
    *
    * 100 TB shape: the corpus collapses ONCE to the staged (type, day)
    * grain — |types|×|days| rows, small at any corpus scale — and the
    * lag-7 self-join runs on that staged table (AQE broadcasts it), so
    * the raw stream is scanned exactly once. */
  def forecastBacktest(events: DataFrame): DataFrame =
    forecastFromDaily(graft.engine.Staging.stage(dailyCounts(events)))

  /** [[forecastBacktest]] over an already-materialized (event_type, day,
    * n_events) grain — shared verbatim with the continuous monitor
    * ([[graft.streaming.StreamingDailyMonitor.forecast]] scores its accumulated
    * counter table with THIS function), so batch and streamed backtests
    * cannot drift. Callers pass a staged/compact frame: the lag join
    * consumes it twice. */
  def forecastFromDaily(daily: DataFrame): DataFrame = {
    val forecast = daily.select(col("event_type"),
      (col("day") + 7).as("day"), col("n_events").as("forecast"))
    daily.join(forecast, Seq("event_type", "day"))
      .select(col("event_type"), col("n_events"), col("forecast"),
        abs(col("n_events") - col("forecast")).as("err"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        (sum("err").cast("double") / count(lit(1))).as("mae"),
        (sum(col("err").cast("double") / col("n_events")) / count(lit(1)))
          .as("mape"),
        (sum(col("forecast") - col("n_events")).cast("double") / count(lit(1)))
          .as("bias"))
  }

  /** Key-skew audit — the diagnosis that decides whether a 100 TB join
    * or window needs salting BEFORE it runs: collapse the stream to
    * per-key (user) row counts, then report the distribution's shape in
    * one row — key count, row mass, max/avg, exact p50/p99, the hottest
    * key's share, the max/avg hot-key ratio, and the coefficient of
    * variation from exact integer moment sums (the [[dailyAnomaly]]
    * discipline: no engine-specific stddev merge order, every double
    * derives from integer sums through the same expression shape on both
    * engines; the lone 1/(n−1) division is nullif-guarded). Output:
    * (n_keys, n_rows, max_rows, avg_rows, p50_rows, p99_rows,
    * top1_share, hot_ratio, cv).
    *
    * 100 TB shape: the corpus-sized work is ONE map-side-combined
    * groupBy(key); the finisher aggregates |keys| small rows. The exact
    * `percentile` buffers the per-key counts on the single final
    * reducer — fine to ~10⁷ keys; beyond that swap `percentile_approx`
    * (the [[valueQuantilesApprox]] convention) and the rest is
    * unchanged. */
  def skewProfile(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    per.agg(
        count(lit(1)).as("n_keys"),
        sum("n").as("n_rows"),
        max("n").as("max_rows"),
        sum(col("n") * col("n")).as("sum_sq"),
        percentile(col("n"), array(lit(0.5), lit(0.99))).as("q"))
      .select(col("n_keys"), col("n_rows"), col("max_rows"),
        (col("n_rows").cast("double") / col("n_keys")).as("avg_rows"),
        col("q").getItem(0).as("p50_rows"),
        col("q").getItem(1).as("p99_rows"),
        (col("max_rows").cast("double") / col("n_rows")).as("top1_share"),
        (col("max_rows").cast("double") * col("n_keys") / col("n_rows"))
          .as("hot_ratio"),
        (sqrt((col("sum_sq").cast("double")
            - col("n_rows").cast("double") * col("n_rows") / col("n_keys"))
          / nullif((col("n_keys") - 1).cast("double"), lit(0.0)))
          / (col("n_rows").cast("double") / col("n_keys"))).as("cv"))
  }

  /** Hopping-window size / advance (minutes) for [[hoppingCounts]] — a
    * 1-hour window advancing every 15 minutes, the overlap ratio Kafka
    * Streams' own hopping-window examples use. */
  val HopWindowMinutes = 60
  val HopAdvanceMinutes = 15

  /** Hopping (overlapping) windowed counts — the Kafka Streams windowing
    * primitive the reference's tumbling queries (Q11/Q12) do NOT
    * exercise: each event lands in `size/advance` = 4 overlapping
    * windows, and every (window, event_type) cell reports its event
    * count and value mass. Implemented with Spark's NATIVE sliding
    * `window()` — Catalyst plans the hop assignment as one `Expand` (a
    * constant ×4 row multiply, no shuffle) followed by a single
    * map-side-combined aggregation; the identical expression runs
    * unchanged under Structured Streaming with a watermark
    * (`StreamingHoppingSpec`). Window starts are emitted as epoch-µs
    * longs (exact integer math on both engines: Spark aligns sliding
    * windows to epoch multiples of the advance). Output: (win_start_us,
    * event_type, n_events, value_sum).
    *
    * 100 TB shape: Expand is map-local and the only shuffle is the final
    * hash((window, type)) partial-agg exchange — the classic "explode the
    * hops, aggregate once" rewrite, delegated to the engine. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(timestamp_micros(col("ts")),
          s"$HopWindowMinutes minutes", s"$HopAdvanceMinutes minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("value_sum"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** SCD2 history build — change-data-capture compaction of the event
    * stream into a type-2 slowly-changing dimension: per user, each run
    * of consecutive equal values of the `props.k` attribute becomes one
    * validity interval [valid_from_us, valid_to_us) (half-open, closed by
    * the NEXT change; the latest run is open-ended with `is_current`).
    * This is the standard warehouse dimension-history operator (latest
    * per key is [[TransitQueries]]' `latest_per_key`; this keeps the full
    * history instead of the head). Output: (user_id, k, valid_from_us,
    * valid_to_us, is_current).
    *
    * 100 TB shape: both windows ride ONE hash(user_id) Exchange and the
    * same (ts, event_id) partition-local sort — change-point detection
    * (`lag`), then interval closing (`lead`) over the already-filtered
    * change points. No self-join, no per-user collect. */
  def scd2History(events: DataFrame): DataFrame = {
    val attr = events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
    val changes = attr
      .withColumn("prev_k", lag(col("k"), 1).over(byUserTime))
      .where(col("prev_k").isNull || col("k") =!= col("prev_k"))
    changes
      .select(col("user_id"), col("k"), col("ts").as("valid_from_us"),
        lead(col("ts"), 1).over(byUserTime).as("valid_to_us"))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Running lifetime value — the cumulative per-user ledger every
    * monetization dashboard reads: after each event, the user's running
    * purchase-value total and how many events preceded it. The frame is
    * the default cumulative `rows unbounded preceding → current row`
    * with the family's deterministic (ts, event_id) order, so ties
    * cannot reorder the running sum between engines. Output: (event_id,
    * user_id, n_prior_events, ltv_after).
    *
    * 100 TB shape: ONE hash(user_id) exchange + partition-local sort —
    * the same single window family as sessionize/as-of; no join, no
    * second shuffle. */
  def runningLtv(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      (row_number().over(byUserTime) - 1).cast("long").as("n_prior_events"),
      sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
        .over(byUserTime).as("ltv_after"))

  /** Redelivery jitter (µs) simulated by [[replayDedup]]'s duplicated leg. */
  val ReplayJitterUs = 1000L

  /** At-least-once replay compaction — the ingestion-dedup operator every
    * pipeline consuming an at-least-once transport needs (the reference's
    * Kafka consumers simply tolerate duplicates): the stream is unioned
    * with a jittered redelivery of itself ON BOTH ENGINES (every event
    * redelivered [[ReplayJitterUs]] later — the deterministic stand-in for
    * broker retries, since the synthetic feed itself is exactly-once) and
    * compacted back to one row per event_id keeping the EARLIEST arrival.
    * Deterministic, unlike `dropDuplicates` (which keeps an arbitrary
    * copy). The continuous face is Spark's native
    * `dropDuplicatesWithinWatermark` ([[graft.streaming.StreamingExactDedup]])
    * with watermark-bounded id state. Output: (event_id, ts, n_copies).
    *
    * 100 TB shape: one map-side-combined groupBy(event_id) — min and
    * count both decompose; the union is a scan concat, not a join. */
  def replayDedup(events: DataFrame): DataFrame = {
    val arrivals = events.select(col("event_id"), col("ts"))
    val replayed = arrivals.unionAll(
      arrivals.select(col("event_id"), (col("ts") + ReplayJitterUs).as("ts")))
    replayed.groupBy("event_id")
      .agg(min("ts").as("ts"), count(lit(1)).as("n_copies"))
  }

  /** Sketch-rollup face of distinct-user counting — the warehouse
    * pattern [[rollingActives]]' exact counts graduate to at 100 TB:
    * per-day Apache DataSketches HLL sketches (Spark's native
    * `hll_sketch_agg`), each day's DAU estimated from its own sketch,
    * and ANY day range answered later by `hll_union_agg` over the stored
    * sketches — no rescan of the event stream, mergeable across
    * partitions and days by construction. Unregistered at the oracle
    * (the sketch binary is engine-specific; DuckDB cannot replay it);
    * `EventsSpec` pins the estimates against the exact distinct counts
    * instead, the [[valueQuantilesApprox]] convention. Output: one row
    * per day — (day, sketch, dau_est). */
  def dauSketches(events: DataFrame, lgK: Int = 12): DataFrame =
    events
      .select(expr(s"ts div $UsPerDay").as("day"), col("user_id"))
      .groupBy("day")
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sketch"))
      .withColumn("dau_est", expr("hll_sketch_estimate(sketch)"))

  /** Fold stored per-day sketches into one range-wide distinct estimate
    * (here the whole table; a real rollup filters `day` first). */
  def distinctFromSketches(daily: DataFrame): DataFrame =
    daily.agg(expr("hll_sketch_estimate(hll_union_agg(sketch))")
      .as("distinct_users_est"))

  /** Rolling window width in days for [[rollingActives]]. */
  val RollingDays = 7

  /** Rolling active users — the DAU/WAU/stickiness board: per day, the
    * distinct users active that day (dau), the distinct users active in
    * the trailing [[RollingDays]]-day window (wau), and their ratio. A
    * day is reported iff its trailing window saw any activity. Output:
    * (day, dau, wau, stickiness).
    *
    * Implementation: rolling DISTINCT counts don't decompose over a
    * window frame, so each distinct (user, day) contributes itself to the
    * [[RollingDays]] report days it falls in (a bounded ×7 explode — the
    * standard shuffle-friendly rewrite), then one count_distinct per
    * report day.
    *
    * 100 TB shape: the corpus collapses to distinct (user, day) in one
    * map-side-combined aggregation; the explode multiplies that already
    * collapsed frame by a constant; both distinct counts shuffle on the
    * day key (≤ a few thousand keys — final agg is tiny) — the raw event
    * stream is scanned once. */
  def rollingActives(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr(s"ts div $UsPerDay").as("day"))
      .distinct()
    val dau = days.groupBy("day").agg(count_distinct(col("user_id")).as("dau"))
    val wau = days
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + (RollingDays - 1))).as("day"))
      .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"),
        (coalesce(col("dau"), lit(0L)).cast("double") / col("wau"))
          .as("stickiness"))
  }

  /** KMV sketch size for [[rollingActivesApprox]] (rsd ≈ 1/√(K−2) ≈ 13%). */
  val KmvK = 64
  /** [[Dedup.h32]]'s value space: 2³². */
  val KmvSpace = 4294967296L

  /** Sketch-grain WAU — [[rollingActives]]' 1-billion-user form (VERDICT
    * r11 #6, the `q2Approx` convention at the rolling-distinct grain):
    * instead of exploding every distinct (user, day) ×7, each day keeps a
    * KMV bottom-[[KmvK]] sketch of the salted user hash (bounded ≤K per
    * partition pre-shuffle — [[graft.functions.BottomKDistinctLongs]]),
    * the trailing window merges 7 such K-long arrays per report day, and
    * the estimate is the textbook (K−1)·2³²/kth_min (exact distinct-hash
    * count below K). KMV — unlike HLL's register blobs — is pure integer
    * order statistics, so the DuckDB oracle replays it EXACTLY (it
    * computes the window bottom-K directly from the hashes: hash equality
    * doubles as a proof of sketch mergeability), and the exact wau rides
    * along so every row referees its own approximation error. Output:
    * (day, wau, wau_est, rel_err).
    *
    * 100 TB shape: the exact face's ×7 explode ships every distinct
    * (user, day) pair 7 times; the sketch face ships K longs per day —
    * per-day sketches persist as a tiny table and ANY window re-answers
    * from them without touching the event stream. (Here both run, since
    * the registered query IS the referee; a production rollup keeps only
    * the sketch side.) */
  def rollingActivesApprox(events: DataFrame): DataFrame = {
    val bottomK = udaf(new graft.functions.BottomKDistinctLongs(KmvK))
    val days = events
      .select(col("user_id"), expr(s"ts div $UsPerDay").as("day"))
      .distinct()
    val wau = days
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + (RollingDays - 1))).as("day"))
      .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
    val daily = days
      .select(col("day"),
        Dedup.h32(concat(lit("wau:"), col("user_id").cast("string"))).as("hv"))
      .groupBy("day").agg(bottomK(col("hv")).as("mins"))
    val merged = daily
      .select(explode(sequence(col("day"), col("day") + (RollingDays - 1))).as("day"),
        col("mins"))
      .groupBy("day")
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
        1, KmvK).as("ms"))
    val est = merged.select(col("day"),
      when(size(col("ms")) < KmvK, size(col("ms")).cast("double"))
        .otherwise(lit((KmvK - 1) * KmvSpace).cast("double")
          / element_at(col("ms"), KmvK)).as("wau_est"))
    wau.join(est, Seq("day"))
      .select(col("day"), col("wau"), col("wau_est"),
        (abs(col("wau_est") - col("wau").cast("double")) / col("wau"))
          .as("rel_err"))
  }

  /** AS-OF join — the operator the builder brief names as a canonical
    * Spark gap, here as the standard scale-correct composition: instead
    * of a per-row backward probe (quadratic or index-dependent), union
    * the two sides and carry the right side forward with
    * `last(_, ignoreNulls) OVER (user, time)` — one shuffle on the join
    * key, one partition-local sort, O(n) per user. Concretely: every
    * purchase event is paired with the same user's most recent prior (or
    * simultaneous) click value; purchases with no prior click keep null.
    * Output: (event_id, user_id, asof_click_value). */
  def asofClickValue(events: DataFrame): DataFrame = {
    val tagged = events.select(
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      when(col("event_type") === "click", col("value")).as("click_value"))
    tagged
      .withColumn("asof_click_value",
        last(col("click_value"), ignoreNulls = true).over(byUserTime))
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "asof_click_value")
  }

  /** Interval-join attribution core — every purchase paired with SAME-user
    * clicks inside `[purchase_ts − horizon, purchase_ts]`, as
    * (purchase_id, user_id, purchase_ts, click_ts, click_value). One
    * implementation for both execution modes: on batch frames the
    * watermarks are no-ops and the join runs eagerly; on streaming frames
    * it is Spark's native stream⋈stream inner join, the streaming
    * attribution face. `clicks` needs (user_id, ts: timestamp, value);
    * `purchases` needs (event_id, user_id, ts: timestamp).
    *
    * Streaming: both sides carry event-time watermarks and the join
    * condition carries the time-range bound, so the state store holds
    * each side only within the horizon — clicks older than `purchase
    * watermark − horizon` are evicted, state is bounded by in-horizon
    * traffic, and matched pairs emit exactly once in append mode. Every
    * in-horizon pair is emitted (unlike [[asofClickValue]], which carries
    * only the latest click forward); a "latest only" refinement is a
    * downstream per-purchase argmax. `StreamingAttributionSpec` pins
    * streamed == batch.
    *
    * 100 TB shape: one hash(user) shuffle per side into a co-located
    * join — no broadcast, no unbounded buffer; streaming state is
    * evicted past the horizon. */
  def attributionPairs(clicks: DataFrame, purchases: DataFrame,
                       horizon: String = "1 hour",
                       allowedLateness: String = "0 seconds"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", allowedLateness)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", allowedLateness)
    p.join(c, expr(
        s"""c_user = p_user AND
           |click_ts <= purchase_ts AND
           |click_ts >= purchase_ts - INTERVAL $horizon""".stripMargin))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("click_value"))
  }

  /** The registered batch face of [[attributionPairs]] over the events
    * table, times emitted as epoch-micros longs (the family's exact
    * integer time convention, oracle-hashable without sub-micro
    * ambiguity). */
  def attribution(events: DataFrame): DataFrame = {
    val e = Tables.spread(events)
      .withColumn("ts", timestamp_micros(col("ts")))
    attributionPairs(
      e.where(col("event_type") === "click").select("user_id", "ts", "value"),
      e.where(col("event_type") === "purchase").select("event_id", "user_id", "ts"))
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"),
        col("click_value"))
  }

  /** Markov entropy profile — how PREDICTABLE each state's outgoing
    * behavior is, the information-theoretic companion to
    * [[markovEval]]'s argmax accuracy: per from-state the Shannon
    * entropy (nats) of its transition row, H(from) = Σ −p·ln p, and the
    * state's weighted contribution n_from/N · H(from) to the chain's
    * conditional entropy rate under the empirical state frequencies
    * (Σ h_contrib = the entropy rate). Output: (from_type, n_from,
    * h_from, h_contrib), doubles rounded 6.
    *
    * 100 TB shape: everything downstream of [[markovTransitions]]'
    * single user-keyed pass operates on the ≤|types|² transition grid —
    * one tiny aggregation plus a 1-row total broadcast. */
  def markovEntropy(events: DataFrame): DataFrame = {
    // r18: the scalar total comes straight off the staged pair frame —
    // as a reference to the transitions VIEW it re-expanded the
    // totals-join subtree (same value: the probability join is 1:1 on
    // from_type by construction)
    val pairs = transitionPairs(events)
    val t = markovTransitionsFrom(pairs)
    val total = pairs.agg(sum("n_transitions").as("n_total"))
    t.groupBy("from_type")
      .agg(sum("n_transitions").as("n_from"),
        sum(-col("p") * log(col("p"))).as("h"))
      .crossJoin(broadcast(total))
      .select(col("from_type"), col("n_from"),
        round(col("h"), 6).as("h_from"),
        round(col("n_from").cast("double") / col("n_total") * col("h"), 6)
          .as("h_contrib"))
  }

  /** Minute-grain arrival dispersion — the Poissonness test per event
    * type ([[TextAnalysis.termBurstiness]]'s idiom on the time axis):
    * the variance-to-mean ratio of per-minute counts over the corpus's
    * full minute span, zeros included WITHOUT materializing the grid —
    * VMR = (N·Σc² − T²)/(N·T) needs only the observed minutes' moments
    * plus the span length N ([[Events.gini]]'s exact-integer discipline,
    * so the grid that bit [[cusum]] at year scale never exists here).
    * ≈1 is Poisson; far above marks bursty/machine traffic; far below,
    * a metronome. Output: (event_type, n_minutes, n_events, dispersion).
    *
    * 100 TB shape: one map-side-combined (type, minute) count, a
    * per-type rollup, a 1-row span broadcast. */
  def dispersion(events: DataFrame): DataFrame = {
    // staged (r17): the minute counts feed the span AND the rollup
    val mins = graft.engine.Staging.stage(Tables.spread(events)
      .select(col("event_type"), expr(s"ts div $UsPerMinute").as("m"))
      .groupBy("event_type", "m").agg(count(lit(1)).as("n")))
    val span = mins.agg(min("m").as("m0"), max("m").as("m1"))
    val nMin = col("m1") - col("m0") + 1
    mins.groupBy("event_type")
      .agg(sum("n").as("t"), sum(col("n") * col("n")).as("ss"))
      .crossJoin(broadcast(span))
      .select(col("event_type"), nMin.as("n_minutes"), col("t").as("n_events"),
        round((nMin * col("ss") - col("t") * col("t")).cast("double")
          / (nMin * col("t")), 6).as("dispersion"))
  }

  /** CUSUM change-point detection over the daily series — the
    * level-SHIFT detector that complements [[dailyAnomaly]]'s
    * single-day z-score (a 20 % drift never trips a per-day outlier
    * test; CUSUM accumulates it): per event type and day, the two-sided
    * cumulative sums s⁺/s⁻ with slack k = σ/2, alarmed at h = 4σ. The
    * recurrence s⁺_t = max(0, s⁺_{t−1} + x_t − μ − k) is computed
    * WITHOUT a sequential fold via the prefix identity
    * s⁺_t = P_t − min(0, min_{j≤t} P_j) over running sums — two window
    * passes on the same (type, day-ordered) spec, embarrassingly
    * parallel per type. Missing days count as zero (a silent outage IS
    * a level shift, so the grid is filled before statistics). Output:
    * (event_type, day_idx, n_events, cusum_pos, cusum_neg, alarm).
    *
    * 100 TB shape: one shrinking (type, day) aggregation; the filled
    * grid, moments, and windows all live on the ≤|types|·|days| series
    * (the [[Corpus.tokenBudget]] tiny-relation discipline — the raw
    * stream is touched once). μ and σ come from exact integer sums; the
    * running double sums are sequential in day order on both engines,
    * so alarms compare bit-identical operands. */
  /** The zero-filled (event_type, day, n) daily grid [[cusum]] scores. */
  private def cusumFilled(events: DataFrame): DataFrame = {
    // staged (r17): `daily` feeds the span, the type list and the grid
    // join — one raw-stream aggregation instead of three
    val daily = graft.engine.Staging.stage(Tables.spread(events)
      .select(col("event_type"), expr(s"ts div $UsPerDay").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n")))
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    daily.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Exact-integer-moment (event_type, mu, sigma) over a filled grid. */
  private def cusumStatsOf(filled: DataFrame): DataFrame =
    filled.groupBy("event_type").agg(
        count(lit(1)).as("nd"), sum("n").as("t"),
        sum(col("n") * col("n")).as("ss"))
      .select(col("event_type"),
        (col("t").cast("double") / col("nd")).as("mu"),
        (sqrt((col("nd") * col("ss") - col("t") * col("t")).cast("double"))
          / col("nd")).as("sigma"))

  /** The frozen per-type model the [[graft.streaming.StreamingCusum]]
    * monitor scores against — train offline on the batch series. */
  def cusumModel(events: DataFrame): DataFrame =
    cusumStatsOf(cusumFilled(events))

  def cusum(events: DataFrame): DataFrame = {
    // staged (r17): the filled grid feeds the moment rollup AND the
    // scored windows
    val filled = graft.engine.Staging.stage(cusumFilled(events))
    val stats = cusumStatsOf(filled)
    val wrun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val devp = col("n").cast("double") - col("mu") - col("sigma") * 0.5
    val devn = col("mu") - col("sigma") * 0.5 - col("n").cast("double")
    val h = col("sigma") * 4.0
    filled.join(broadcast(stats), "event_type")
      .withColumn("pp", sum(devp).over(wrun))
      .withColumn("pn", sum(devn).over(wrun))
      .withColumn("cusum_pos",
        col("pp") - least(lit(0.0), min(col("pp")).over(wrun)))
      .withColumn("cusum_neg",
        col("pn") - least(lit(0.0), min(col("pn")).over(wrun)))
      .select(col("event_type"), col("day").as("day_idx"),
        col("n").as("n_events"),
        round(col("cusum_pos"), 6).as("cusum_pos"),
        round(col("cusum_neg"), 6).as("cusum_neg"),
        (col("cusum_pos") > h || col("cusum_neg") > h).as("alarm"))
  }

  /** Session-duration histogram — the engagement-length profile on
    * [[Corpus.lengthProfile]]'s exact-integer log₂ ladder: sessions
    * bucketed by `length(bin(seconds))` (bucket 0 = single-instant
    * sessions), each bucket reporting its session/event/second mass.
    * Output: (bucket, lo_seconds, n_sessions, n_events, total_seconds).
    *
    * 100 TB shape: rides [[sessionize]]'s one hash(user_id) exchange;
    * durations are exact integer µs→s divisions and the rollup is
    * ≤64 rows. */
  def sessionDurationHist(events: DataFrame): DataFrame =
    withSessions(events)
      .groupBy("user_id", "session_seq")
      .agg(expr("(max(ts) - min(ts)) div 1000000").as("dur_s"),
        count(lit(1)).as("n_ev"))
      .select(when(col("dur_s") === 0, 0L)
        .otherwise(length(bin(col("dur_s"))).cast("long")).as("bucket"),
        col("dur_s"), col("n_ev"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_sessions"),
        sum("n_ev").as("n_events"),
        sum("dur_s").as("total_seconds"))
      .select(col("bucket"),
        when(col("bucket") === 0, 0L).otherwise(
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))"))
          .as("lo_seconds"),
        col("n_sessions"), col("n_events"), col("total_seconds"))

  /** Daily activity streaks — the gaps-and-islands engagement rollup
    * (duolingo-style "longest run of consecutive active days"): per user
    * the count of distinct active days, the number of maximal consecutive
    * runs, and the longest run. A day is active if the user has ≥1 event
    * in it ([[UsPerDay]] epoch-µs buckets). Output: (user_id,
    * n_active_days, n_streaks, longest_streak).
    *
    * 100 TB shape: two SHRINKING exchanges — the (user, day) distinct
    * collapses raw events to active-days map-side BEFORE its shuffle,
    * and the hash(user_id) exchange that feeds the window then carries
    * only distinct days; both rollups co-partition behind it
    * (hash(user_id) clusters (user_id, island), so no further shuffle).
    * The island-id window sorts only one user's distinct DAYS (≤ tenure
    * in days — bounded regardless of event volume, so the power-user
    * skew unit here is even smaller than [[sessionize]]'s). */
  def streaks(events: DataFrame): DataFrame = {
    val days = Tables.spread(events)
      .select(col("user_id"), expr(s"ts div $UsPerDay").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day"))
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(
        sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"))
  }

  /** Activity-concentration audit — the Gini coefficient of events per
    * user, the one-number answer to "how head-heavy is this traffic?"
    * that sits beside [[skewProfile]]'s moments. Computed EXACTLY in
    * integers without a global row_number: group users by their event
    * count c into a ledger (one row per distinct c), rank whole tie
    * groups analytically (users with count c occupy ranks r+1..r+m where
    * r = #users with smaller c, so Σ i·xᵢ over the group is
    * c·(m·r + m(m+1)/2) — all int64), then
    * G = 2·S/(n·T) − (n+1)/n with S, n, T exact integers and exactly two
    * IEEE divisions at the end. Output 1 row: (n_users, total_events,
    * gini, rounded 6).
    *
    * 100 TB shape: one map-side-combined per-user count, a second
    * combine down to the ≤|distinct c| ledger, and the only ordered
    * window runs on that ledger (bounded by max events-per-user, the
    * [[Corpus.tokenBudget]] boundary-ledger discipline — the WindowExec
    * single-partition warning is over this tiny relation, never the
    * data). S ≤ n·T fits int64 while users·events stays under ~9e18;
    * the denominator is computed in doubles so only S's envelope binds. */
  def gini(events: DataFrame): DataFrame = {
    val wBelow = Window.orderBy(col("c").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.spread(events)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
      .withColumn("r", coalesce(sum("m").over(wBelow), lit(0L)))
      .agg(sum("m").as("n_users"),
        sum(col("c") * col("m")).as("total_events"),
        sum(expr("c * (m * r + (m * (m + 1)) div 2)")).as("s"))
      .select(col("n_users"), col("total_events"),
        round(lit(2.0) * col("s").cast("double") /
          (col("n_users").cast("double") * col("total_events").cast("double"))
          - (col("n_users") + 1).cast("double") / col("n_users").cast("double"),
          6).as("gini"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_streaks"         -> ((s, d) => streaks(Tables.events(s, d))),
    "events_gini"            -> ((s, d) => gini(Tables.events(s, d))),
    "events_markov_entropy"  -> ((s, d) => markovEntropy(Tables.events(s, d))),
    "events_session_duration_hist" -> ((s, d) =>
      sessionDurationHist(Tables.events(s, d))),
    "events_cusum"           -> ((s, d) => cusum(Tables.events(s, d))),
    "events_dispersion"      -> ((s, d) => dispersion(Tables.events(s, d))),
    "events_attribution"     -> ((s, d) => attribution(Tables.events(s, d))),
    "events_asof_click"      -> ((s, d) => asofClickValue(Tables.events(s, d))),
    "events_value_quantiles" -> ((s, d) => valueQuantiles(Tables.events(s, d))),
    "events_daily_rollup"    -> ((s, d) => dailyRollup(Tables.events(s, d))),
    "events_anomaly"         -> ((s, d) => dailyAnomaly(Tables.events(s, d))),
    "events_anomaly_dow"     -> ((s, d) => dowAnomaly(Tables.events(s, d))),
    "events_anomaly_probe"   -> ((s, d) => anomalyProbe(Tables.events(s, d))),
    "events_conversion_probe" -> ((s, d) => conversionProbe(Tables.events(s, d))),
    "events_wau"             -> ((s, d) => rollingActives(Tables.events(s, d))),
    "events_wau_approx"      -> ((s, d) => rollingActivesApprox(Tables.events(s, d))),
    "events_conversion_lag"  -> ((s, d) => conversionLag(Tables.events(s, d))),
    "events_retention"       -> ((s, d) => retention(Tables.events(s, d))),
    "events_growth_accounting" -> ((s, d) => growthAccounting(Tables.events(s, d))),
    "events_sessionize"    -> ((s, d) => sessionize(Tables.events(s, d))),
    "events_session_stats" -> ((s, d) => sessionStats(Tables.events(s, d))),
    "events_session_funnel" -> ((s, d) => sessionFunnel(Tables.events(s, d))),
    "events_session_sequences" -> ((s, d) => sessionSequences(Tables.events(s, d))),
    "events_markov_transitions" -> ((s, d) => markovTransitions(Tables.events(s, d))),
    "events_top_journeys" -> ((s, d) => topJourneys(Tables.events(s, d))),
    "events_rfm" -> ((s, d) => rfm(Tables.events(s, d))),
    "events_churn_segments" -> ((s, d) => churnSegments(Tables.events(s, d))),
    "events_churn_probe" -> ((s, d) => churnProbe(Tables.events(s, d))),
    "events_survival" -> ((s, d) => survivalProbe(Tables.events(s, d))),
    "events_ab_lift" -> ((s, d) => abLift(Tables.events(s, d))),
    "events_seasonality" -> ((s, d) => seasonality(Tables.events(s, d))),
    "events_skew_profile" -> ((s, d) => skewProfile(Tables.events(s, d))),
    "events_forecast_backtest" -> ((s, d) => forecastBacktest(Tables.events(s, d))),
    "events_markov_eval" -> ((s, d) => markovEval(Tables.events(s, d))),
    "events_interarrival" -> ((s, d) => interarrival(Tables.events(s, d))),
    "events_bot_flag" -> ((s, d) => botFlag(Tables.events(s, d))),
    "events_funnel"        -> ((s, d) => funnel(Tables.events(s, d))),
    "events_props_extract" -> ((s, d) => propsExtract(Tables.events(s, d))),
    "events_kanon"         -> ((s, d) => kAnonymity(Tables.events(s, d))),
    "events_kanon_apply"   -> ((s, d) => kAnonymityApply(Tables.events(s, d))),
    "events_hopping"       -> ((s, d) => hoppingCounts(Tables.events(s, d))),
    "events_scd2"          -> ((s, d) => scd2History(Tables.events(s, d))),
    "events_dedup"         -> ((s, d) => replayDedup(Tables.events(s, d))),
    "events_running_ltv"   -> ((s, d) => runningLtv(Tables.events(s, d))),
  )

  /** The [[churnSegments]] oracle body over event relation `rel` — one
    * text for the raw and probe faces so the segmentation can never
    * drift between them. */
  /** SQL mirror of [[silencedEvents]] — the b/ev CTE pair both probe
    * oracles open with, stated once so the cohort constants cannot
    * drift between the churn and survival faces. */
  private def silencedSqlWith: String =
    s"""b AS (SELECT MAX(epoch_us(ts)) AS t1 FROM events),
       | ev AS (SELECT e.* FROM events e CROSS JOIN b
       |   WHERE epoch_us(e.ts) <= b.t1 - CASE e.user_id % 3
       |     WHEN 1 THEN 10 * ${UsPerDay}::BIGINT
       |     WHEN 2 THEN 20 * ${UsPerDay}::BIGINT
       |     ELSE 0 END)""".stripMargin

  private def churnSqlBody(rel: String): String =
    s"""per AS (SELECT user_id, MAX(epoch_us(ts)) AS last_ts,
       |     CAST(COUNT(*) AS BIGINT) AS n_events,
       |     SUM(CASE WHEN event_type = 'purchase' THEN value
       |         ELSE CAST(0 AS DOUBLE) END) AS purchase_value
       |   FROM $rel GROUP BY user_id),
       | a AS (SELECT MAX(last_ts) AS corpus_last FROM per),
       | seg AS (SELECT *,
       |     (corpus_last // $UsPerDay) - (last_ts // $UsPerDay) AS recency_days
       |   FROM per CROSS JOIN a)
       | SELECT CASE WHEN recency_days <= $ChurnActiveDays THEN 'active'
       |     WHEN recency_days <= $ChurnAtRiskDays THEN 'at_risk'
       |     ELSE 'churned' END AS segment,
       |   CAST(COUNT(*) AS BIGINT) AS n_users,
       |   CAST(SUM(n_events) AS BIGINT) AS total_events,
       |   SUM(purchase_value) AS total_value
       | FROM seg GROUP BY 1""".stripMargin

  /** Shared sessionization CTE ending in relation
    * `sess(event_id, user_id, session_seq, is_session_start)`. */
  private def sessSqlWith =
    s"""ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts, event_type, value
       |   FROM events),
       | marked AS (SELECT event_id, user_id, ts, event_type, value,
       |   (LAG(ts) OVER w IS NULL OR
       |    ts > LAG(ts) OVER w + ${SessionGapMicros}::BIGINT)
       |     AS is_session_start
       |   FROM ev
       |   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       | sess AS (SELECT event_id, user_id, ts, event_type, value,
       |   is_session_start,
       |   SUM(CASE WHEN is_session_start THEN 1 ELSE 0 END)
       |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
       |   FROM marked)""".stripMargin

  /** The (event_type, day) count grain as SQL — one text for the
    * `events_anomaly` and `events_anomaly_probe` oracles. */
  private def dailyCountsSql: String =
    s"""SELECT event_type, epoch_us(ts) // $UsPerDay AS day,
       |     CAST(COUNT(*) AS BIGINT) AS n_events
       |   FROM events GROUP BY 1, 2""".stripMargin

  /** [[scoreDaily]]'s SQL twin over a (event_type, day, n_events)
    * relation `src` — shared by the anomaly oracle and its spike probe so
    * the z math cannot drift between them. */
  private def anomalyScoreSql(src: String,
      keys: String = "event_type",
      sel: String = "d.event_type, d.day",
      out: String = "event_type, day",
      meanAlias: String = "mean_daily"): String =
    s""", stats AS (SELECT $keys, COUNT(*) AS n_days,
       |     CAST(SUM(n_events) AS BIGINT) AS sum_cnt,
       |     CAST(SUM(n_events * n_events) AS BIGINT) AS sum_sq
       |   FROM $src GROUP BY $keys),
       | j AS (SELECT $sel, d.n_events,
       |     CAST(s.sum_cnt AS DOUBLE) / s.n_days AS $meanAlias,
       |     CAST(s.sum_sq AS DOUBLE) / s.n_days
       |       - (CAST(s.sum_cnt AS DOUBLE) / s.n_days)
       |         * (CAST(s.sum_cnt AS DOUBLE) / s.n_days) AS variance
       |   FROM $src d JOIN stats s USING ($keys))
       | SELECT $out, n_events, $meanAlias,
       |   CASE WHEN variance > 0
       |        THEN (CAST(n_events AS DOUBLE) - $meanAlias) / sqrt(variance)
       |        ELSE CAST(0 AS DOUBLE) END AS z,
       |   CASE WHEN variance > 0
       |        THEN abs((CAST(n_events AS DOUBLE) - $meanAlias) / sqrt(variance))
       |             > $AnomalyZMax
       |        ELSE FALSE END AS anomalous
       | FROM j""".stripMargin

  /** [[conversionLag]]'s SQL twin, parameterized by an event-stream
    * filter — shared by the lag oracle and its unconverted-branch probe. */
  private def conversionLagSql(evWhere: String): String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts
       |   FROM events$evWhere),
       | f AS (SELECT user_id, event_type, ts,
       |     MIN(CASE WHEN event_type = 'view' THEN ts END)
       |       OVER (PARTITION BY user_id) AS fv
       |   FROM ev),
       | g AS (SELECT user_id, MIN(fv) AS first_view_us,
       |     MIN(CASE WHEN event_type = 'purchase' AND ts > fv THEN ts END)
       |       AS first_purchase_us
       |   FROM f WHERE fv IS NOT NULL GROUP BY user_id)
       | SELECT user_id, first_view_us, first_purchase_us,
       |   CAST(first_purchase_us - first_view_us AS DOUBLE) / 1000000 AS lag_sec,
       |   first_purchase_us IS NOT NULL AS converted
       | FROM g""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "events_streaks" ->
      s"""WITH days AS (SELECT DISTINCT user_id,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day FROM events),
         | isl AS (SELECT user_id, day,
         |     day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
         |       AS island FROM days),
         | runs AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
         |   FROM isl GROUP BY 1, 2)
         | SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
         |   CAST(COUNT(*) AS BIGINT) AS n_streaks,
         |   CAST(MAX(len) AS BIGINT) AS longest_streak
         | FROM runs GROUP BY user_id""".stripMargin,

    "events_gini" ->
      """WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |   FROM events GROUP BY 1),
        | led AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM pu GROUP BY 1),
        | rk AS (SELECT *, COALESCE(SUM(m) OVER (ORDER BY c ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
        |   FROM led),
        | a AS (SELECT CAST(SUM(m) AS BIGINT) AS n_users,
        |     CAST(SUM(c * m) AS BIGINT) AS total_events,
        |     CAST(SUM(c * (m * r + (m * (m + 1)) // 2)) AS BIGINT) AS s
        |   FROM rk)
        | SELECT n_users, total_events,
        |   round(2.0 * CAST(s AS DOUBLE)
        |       / (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE))
        |     - CAST(n_users + 1 AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
        |     AS gini
        | FROM a""".stripMargin,

    "events_attribution" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS click_us, value AS click_value
        |   FROM events WHERE event_type = 'click'),
        | p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
        |   FROM events WHERE event_type = 'purchase')
        | SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_us, c.click_value
        | FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.click_us <= p.purchase_us
        |  AND c.click_us >= p.purchase_us - 3600000000""".stripMargin,

    "events_retention" ->
      s"""WITH days AS (SELECT DISTINCT user_id,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day FROM events),
         | cohort AS (SELECT user_id, MIN(day) AS cohort_day
         |   FROM days GROUP BY 1),
         | sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size
         |   FROM cohort GROUP BY 1),
         | act AS (SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
         |     COUNT(DISTINCT d.user_id) AS n_active
         |   FROM days d JOIN cohort c USING (user_id) GROUP BY 1, 2)
         | SELECT a.cohort_day, a.day_offset,
         |   CAST(a.n_active AS BIGINT) AS n_active,
         |   CAST(s.cohort_size AS BIGINT) AS cohort_size,
         |   CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
         | FROM act a JOIN sizes s USING (cohort_day)""".stripMargin,

    "events_growth_accounting" ->
      s"""WITH d AS (SELECT DISTINCT user_id,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day FROM events),
         | b AS (SELECT MAX(epoch_us(ts)) // ${UsPerDay}::BIGINT AS last_day
         |   FROM events),
         | x AS (SELECT user_id, day,
         |     LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
         |     LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
         |   FROM d),
         | r AS (
         |   SELECT day, CASE WHEN prev IS NULL THEN 'new'
         |     WHEN prev = day - 1 THEN 'retained'
         |     ELSE 'resurrected' END AS kind FROM x
         |   UNION ALL
         |   SELECT day + 1, 'churned' FROM x CROSS JOIN b
         |   WHERE day < last_day AND (nxt IS NULL OR nxt > day + 1))
         | SELECT day,
         |   CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |   CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         |   CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
         |   CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
         | FROM r GROUP BY day""".stripMargin,

    "events_conversion_lag" -> conversionLagSql(""),

    "events_conversion_probe" ->
      conversionLagSql(" WHERE NOT (event_type = 'purchase' AND user_id % 2 = 0)"),

    "events_wau" ->
      s"""WITH days AS (SELECT DISTINCT user_id,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day FROM events),
         | dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
         |   FROM days GROUP BY 1),
         | wau AS (SELECT d.day + o.off AS day,
         |     COUNT(DISTINCT d.user_id) AS wau
         |   FROM days d CROSS JOIN range($RollingDays) o(off) GROUP BY 1)
         | SELECT w.day, CAST(COALESCE(a.dau, 0) AS BIGINT) AS dau,
         |   CAST(w.wau AS BIGINT) AS wau,
         |   CAST(COALESCE(a.dau, 0) AS DOUBLE) / w.wau AS stickiness
         | FROM wau w LEFT JOIN dau a ON a.day = w.day""".stripMargin,

    "events_wau_approx" ->
      s"""WITH days AS (SELECT DISTINCT user_id,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day FROM events),
         | wau AS (SELECT d.day + o.off AS day,
         |     CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS wau
         |   FROM days d CROSS JOIN range($RollingDays) o(off) GROUP BY 1),
         | hv AS (SELECT day,
         |     ${Dedup.h32SqlOf("'wau:' || CAST(user_id AS VARCHAR)")} AS hv
         |   FROM days),
         | hexp AS (SELECT h.day + o.off AS day, h.hv
         |   FROM hv h CROSS JOIN range($RollingDays) o(off)),
         | sk AS (SELECT day, list_sort(list(DISTINCT hv))[1:$KmvK] AS ms
         |   FROM hexp GROUP BY 1),
         | est AS (SELECT day,
         |     CASE WHEN len(ms) < $KmvK THEN CAST(len(ms) AS DOUBLE)
         |          ELSE CAST(${(KmvK - 1) * KmvSpace} AS DOUBLE) / ms[$KmvK]
         |     END AS wau_est FROM sk)
         | SELECT w.day, w.wau, e.wau_est,
         |   abs(e.wau_est - CAST(w.wau AS DOUBLE)) / w.wau AS rel_err
         | FROM wau w JOIN est e USING (day)""".stripMargin,

    "events_anomaly" ->
      s"""WITH daily AS ($dailyCountsSql)
         | ${anomalyScoreSql("daily")}""".stripMargin,

    "events_anomaly_dow" ->
      s"""WITH daily AS ($dailyCountsSql),
         | dowd AS (SELECT event_type, day, day % 7 AS dow, n_events
         |   FROM daily)
         | ${anomalyScoreSql("dowd", keys = "event_type, dow",
             sel = "d.event_type, d.day, d.dow",
             out = "event_type, day, dow", meanAlias = "mean_dow")}""".stripMargin,

    "events_anomaly_probe" ->
      s"""WITH daily AS ($dailyCountsSql),
         | spiked AS (SELECT event_type, day,
         |   CASE WHEN day = MIN(day) OVER (PARTITION BY event_type)
         |        THEN n_events * $AnomalySpike ELSE n_events END AS n_events
         |   FROM daily)
         | ${anomalyScoreSql("spiked")}""".stripMargin,

    "events_rfm" ->
      s"""WITH per AS (SELECT user_id, MAX(epoch_us(ts)) AS last_ts,
         |     CAST(COUNT(*) AS BIGINT) AS frequency,
         |     SUM(CASE WHEN event_type = 'purchase' THEN value
         |         ELSE CAST(0 AS DOUBLE) END) AS monetary
         |   FROM events GROUP BY user_id),
         | a AS (SELECT MAX(last_ts) AS corpus_last FROM per)
         | SELECT user_id,
         |   (corpus_last // $UsPerDay) - (last_ts // $UsPerDay) AS recency_days,
         |   frequency, monetary
         | FROM per CROSS JOIN a""".stripMargin,

    "events_churn_segments" -> s"WITH ${churnSqlBody("events")}",

    "events_churn_probe" ->
      s"""WITH $silencedSqlWith,
         | ${churnSqlBody("ev")}""".stripMargin,

    "events_survival" ->
      s"""WITH $silencedSqlWith,
         | pu AS (SELECT user_id, MIN(epoch_us(ts)) AS first_ts,
         |     MAX(epoch_us(ts)) AS last_ts FROM ev GROUP BY user_id),
         | a AS (SELECT MAX(last_ts) AS corpus_last FROM pu),
         | lt AS (SELECT
         |     CASE WHEN (corpus_last // $UsPerDay) - (last_ts // $UsPerDay)
         |         > $ChurnAtRiskDays
         |       THEN (last_ts // $UsPerDay) - (first_ts // $UsPerDay)
         |       ELSE (corpus_last // $UsPerDay) - (first_ts // $UsPerDay) END AS t,
         |     (corpus_last // $UsPerDay) - (last_ts // $UsPerDay)
         |       > $ChurnAtRiskDays AS death
         |   FROM pu CROSS JOIN a),
         | led AS (SELECT t,
         |     CAST(SUM(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS n_deaths,
         |     CAST(COUNT(*) AS BIGINT) AS n_total FROM lt GROUP BY t),
         | n AS (SELECT CAST(SUM(n_total) AS BIGINT) AS n_users FROM led),
         | r AS (SELECT t, n_deaths, n_total,
         |     n_users - COALESCE(SUM(n_total) OVER (ORDER BY t
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         |   FROM led CROSS JOIN n),
         | s AS (SELECT t, n_deaths, n_risk,
         |     exp(SUM(CASE WHEN n_deaths > 0 AND n_risk > n_deaths
         |       THEN ln(CAST(n_risk - n_deaths AS DOUBLE) / n_risk)
         |       WHEN n_deaths > 0 THEN CAST('-infinity' AS DOUBLE)
         |       ELSE CAST(0 AS DOUBLE) END)
         |       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |         AND CURRENT ROW)) AS survival
         |   FROM r)
         | SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, n_deaths,
         |   round(survival, 6) AS survival
         | FROM s WHERE n_deaths > 0""".stripMargin,

    "events_ab_lift" ->
      s"""WITH firsts AS (SELECT user_id, MIN(epoch_us(ts)) AS first_ts,
         |     MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
         |       AS first_purchase
         |   FROM events GROUP BY user_id),
         | per AS (SELECT user_id,
         |     CASE WHEN first_purchase IS NOT NULL
         |       AND first_purchase <= first_ts + ${AbConvHorizonUs}::BIGINT
         |       THEN 1 ELSE 0 END AS converted
         |   FROM firsts),
         | arms AS (SELECT user_id % 2 AS arm,
         |     CAST(COUNT(*) AS BIGINT) AS n_users,
         |     CAST(SUM(converted) AS BIGINT) AS n_conv
         |   FROM per GROUP BY 1),
         | w AS (SELECT
         |     CAST(SUM(CASE WHEN arm = 0 THEN n_users END) AS BIGINT) AS n_a,
         |     CAST(SUM(CASE WHEN arm = 1 THEN n_users END) AS BIGINT) AS n_b,
         |     CAST(SUM(CASE WHEN arm = 0 THEN n_conv END) AS BIGINT) AS conv_a,
         |     CAST(SUM(CASE WHEN arm = 1 THEN n_conv END) AS BIGINT) AS conv_b
         |   FROM arms)
         | SELECT n_a, n_b, conv_a, conv_b,
         |   CAST(conv_a AS DOUBLE) / n_a AS rate_a,
         |   CAST(conv_b AS DOUBLE) / n_b AS rate_b,
         |   CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a
         |     AS lift,
         |   (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
         |     / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |       * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |       * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)),
         |       CAST(0 AS DOUBLE)) AS z_score
         | FROM w""".stripMargin,

    "events_seasonality" ->
      s"""WITH daily AS (SELECT epoch_us(ts) // ${UsPerDay}::BIGINT AS day,
         |     CAST(COUNT(*) AS BIGINT) AS n
         |   FROM events GROUP BY 1),
         | per AS (SELECT CAST(day % 7 AS INTEGER) AS dow,
         |     CAST(COUNT(*) AS BIGINT) AS n_days,
         |     CAST(SUM(n) AS BIGINT) AS n_events,
         |     CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_events
         |   FROM daily GROUP BY 1),
         | o AS (SELECT CAST(SUM(n_events) AS DOUBLE) / SUM(n_days)
         |     AS overall_avg
         |   FROM per)
         | SELECT dow, n_days, n_events, avg_events,
         |   avg_events / overall_avg AS seasonal_index
         | FROM per CROSS JOIN o""".stripMargin,

    "events_forecast_backtest" ->
      s"""WITH daily AS ($dailyCountsSql),
         | f AS (SELECT event_type, day + 7 AS day, n_events AS forecast
         |   FROM daily),
         | s AS (SELECT d.event_type, d.n_events, f.forecast,
         |     abs(d.n_events - f.forecast) AS err
         |   FROM daily d JOIN f USING (event_type, day))
         | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |   CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mae,
         |   SUM(CAST(err AS DOUBLE) / n_events) / COUNT(*) AS mape,
         |   CAST(SUM(forecast - n_events) AS DOUBLE) / COUNT(*) AS bias
         | FROM s GROUP BY event_type""".stripMargin,

    "events_skew_profile" ->
      s"""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
         |   FROM events GROUP BY user_id),
         | m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |     CAST(SUM(n) AS BIGINT) AS n_rows,
         |     MAX(n) AS max_rows,
         |     CAST(SUM(n * n) AS BIGINT) AS sum_sq,
         |     quantile_cont(n, 0.5) AS p50_rows,
         |     quantile_cont(n, 0.99) AS p99_rows
         |   FROM per)
         | SELECT n_keys, n_rows, max_rows,
         |   CAST(n_rows AS DOUBLE) / n_keys AS avg_rows,
         |   p50_rows, p99_rows,
         |   CAST(max_rows AS DOUBLE) / n_rows AS top1_share,
         |   CAST(max_rows AS DOUBLE) * n_keys / n_rows AS hot_ratio,
         |   sqrt((CAST(sum_sq AS DOUBLE)
         |       - CAST(n_rows AS DOUBLE) * n_rows / n_keys)
         |     / nullif(CAST(n_keys - 1 AS DOUBLE), CAST(0 AS DOUBLE)))
         |     / (CAST(n_rows AS DOUBLE) / n_keys) AS cv
         | FROM m""".stripMargin,

    "events_interarrival" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
         | g AS (SELECT user_id, event_id,
         |     ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |       AS gap_us
         |   FROM ev),
         | gaps AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
         | r AS (SELECT user_id, gap_us,
         |     ROW_NUMBER() OVER (PARTITION BY user_id
         |       ORDER BY gap_us, event_id) AS rn,
         |     COUNT(*) OVER (PARTITION BY user_id) AS n
         |   FROM gaps)
         | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |   CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS mean_gap_us,
         |   MIN(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS p50_gap_us,
         |   MAX(gap_us) AS max_gap_us,
         |   CAST(SUM(CASE WHEN gap_us > $SessionGapMicros THEN 1 ELSE 0 END)
         |     AS BIGINT) AS n_over_gap
         | FROM r GROUP BY user_id""".stripMargin,

    "events_bot_flag" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
         | b AS (SELECT user_id, MAX(c) AS max_per_min,
         |     CAST(SUM(c) AS BIGINT) AS n_events
         |   FROM (SELECT user_id, ts // $UsPerMinute AS minute, COUNT(*) AS c
         |     FROM ev GROUP BY 1, 2) GROUP BY user_id),
         | g AS (SELECT user_id,
         |     ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |       AS gap_us
         |   FROM ev),
         | r AS (SELECT user_id, MAX(c) AS top_gap_n,
         |     CAST(SUM(c) AS BIGINT) AS n_gaps
         |   FROM (SELECT user_id, gap_us, COUNT(*) AS c FROM g
         |     WHERE gap_us IS NOT NULL GROUP BY 1, 2) GROUP BY user_id)
         | SELECT b.user_id, b.n_events, b.max_per_min,
         |   COALESCE(r.n_gaps, 0) AS n_gaps,
         |   CAST(r.top_gap_n AS DOUBLE) / r.n_gaps AS top_gap_share,
         |   b.max_per_min >= $BotBurstPerMin OR
         |     (COALESCE(r.n_gaps, 0) >= $BotMinGaps AND
         |      CAST(r.top_gap_n AS DOUBLE) / r.n_gaps >= $BotRegularShare)
         |     AS is_bot
         | FROM b LEFT JOIN r ON r.user_id = b.user_id""".stripMargin,

    "events_asof_click" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts, event_type,
         |     CASE WHEN event_type = 'click' THEN value END AS click_value
         |   FROM events),
         | w AS (SELECT event_id, user_id, event_type,
         |     LAST_VALUE(click_value IGNORE NULLS) OVER (
         |       PARTITION BY user_id ORDER BY ts, event_id) AS asof_click_value
         |   FROM ev)
         | SELECT event_id, user_id, asof_click_value
         | FROM w WHERE event_type = 'purchase'""".stripMargin,

    "events_value_quantiles" ->
      s"""SELECT event_type,
         | quantile_cont(value, 0.5) AS p50,
         | quantile_cont(value, 0.95) AS p95,
         | quantile_cont(value, 0.99) AS p99
         | FROM events GROUP BY event_type""".stripMargin,

    "events_daily_rollup" ->
      s"""WITH ev AS (SELECT epoch_us(ts) // $UsPerDay AS day_idx, event_type
         |   FROM events)
         | SELECT day_idx, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
         | FROM ev GROUP BY ROLLUP (day_idx, event_type)""".stripMargin,

    "events_sessionize" ->
      s"""WITH $sessSqlWith
         | SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |   is_session_start
         | FROM sess""".stripMargin,

    "events_session_stats" ->
      s"""WITH $sessSqlWith
         | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |   CAST(COUNT(*) AS BIGINT) AS n_events,
         |   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_errors,
         |   SUM(value) AS total_value,
         |   CAST(MAX(ts) - MIN(ts) AS DOUBLE) / 1000000 AS duration_sec
         | FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "events_session_funnel" ->
      s"""WITH $sessSqlWith,
         | firsts AS (SELECT user_id, session_seq,
         |   ${FunnelStages.map(s =>
              s"MIN(CASE WHEN event_type = '$s' THEN ts END) AS t_$s")
              .mkString(",\n |   ")}
         |   FROM sess GROUP BY user_id, session_seq),
         | per_s AS (SELECT user_id, session_seq,
         |   CASE WHEN t_signup IS NULL THEN 0
         |        WHEN t_view IS NULL OR t_view <= t_signup THEN 1
         |        WHEN t_click IS NULL OR t_click <= t_view THEN 2
         |        WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 3
         |        ELSE 4 END AS stages_reached
         |   FROM firsts),
         | stages(stage_idx, stage) AS (VALUES
         |   ${FunnelStages.zipWithIndex
              .map { case (s, i) => s"(${i + 1}, '$s')" }.mkString(", ")})
         | SELECT s.stage_idx, s.stage,
         |   CAST(COUNT(p.user_id) AS BIGINT) AS n_sessions
         | FROM stages s LEFT JOIN per_s p ON p.stages_reached >= s.stage_idx
         | GROUP BY s.stage_idx, s.stage""".stripMargin,

    "events_session_sequences" ->
      s"""WITH $sessSqlWith
         | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |   string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence,
         |   CAST(COUNT(*) AS BIGINT) AS n_events
         | FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "events_markov_transitions" ->
      s"""WITH $sessSqlWith,
         | nxt AS (SELECT event_type AS from_type,
         |     LEAD(event_type) OVER w AS to_type,
         |     session_seq, LEAD(session_seq) OVER w AS next_seq
         |   FROM sess
         |   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         | tr AS (SELECT from_type, to_type,
         |     CAST(COUNT(*) AS BIGINT) AS n_transitions
         |   FROM nxt WHERE to_type IS NOT NULL AND next_seq = session_seq
         |   GROUP BY 1, 2),
         | tot AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
         |   FROM tr GROUP BY 1)
         | SELECT tr.from_type, tr.to_type, tr.n_transitions,
         |   CAST(tr.n_transitions AS DOUBLE) / tot.n_from AS p
         | FROM tr JOIN tot USING (from_type)""".stripMargin,

    "events_dispersion" ->
      s"""WITH mins AS (SELECT event_type,
         |     epoch_us(ts) // ${UsPerMinute}::BIGINT AS m,
         |     CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         | span AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM mins),
         | g AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t,
         |     CAST(SUM(n * n) AS BIGINT) AS ss FROM mins GROUP BY 1)
         | SELECT event_type, (m1 - m0 + 1) AS n_minutes, t AS n_events,
         |   round(CAST((m1 - m0 + 1) * ss - t * t AS DOUBLE)
         |     / ((m1 - m0 + 1) * t), 6) AS dispersion
         | FROM g CROSS JOIN span""".stripMargin,

    "events_cusum" ->
      s"""WITH daily AS (SELECT event_type,
         |     epoch_us(ts) // ${UsPerDay}::BIGINT AS day,
         |     CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         | span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
         | grid AS (SELECT et.event_type, unnest(range(d0, d1 + 1)) AS day
         |   FROM (SELECT DISTINCT event_type FROM daily) et CROSS JOIN span),
         | filled AS (SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
         |   FROM grid g LEFT JOIN daily d
         |   ON d.event_type = g.event_type AND d.day = g.day),
         | st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
         |     CAST(SUM(n) AS BIGINT) AS t, CAST(SUM(n * n) AS BIGINT) AS ss
         |   FROM filled GROUP BY 1),
         | mo AS (SELECT event_type, CAST(t AS DOUBLE) / nd AS mu,
         |     sqrt(CAST(nd * ss - t * t AS DOUBLE)) / nd AS sigma FROM st),
         | dv AS (SELECT f.event_type, f.day, f.n, mo.sigma,
         |     CAST(f.n AS DOUBLE) - mo.mu - mo.sigma * 0.5 AS devp,
         |     mo.mu - mo.sigma * 0.5 - CAST(f.n AS DOUBLE) AS devn
         |   FROM filled f JOIN mo USING (event_type)),
         | pw AS (SELECT *, SUM(devp) OVER w AS pp, SUM(devn) OVER w AS pn
         |   FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY day
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         | cw AS (SELECT *,
         |     pp - LEAST(CAST(0 AS DOUBLE), MIN(pp) OVER w2) AS cpos,
         |     pn - LEAST(CAST(0 AS DOUBLE), MIN(pn) OVER w2) AS cneg
         |   FROM pw WINDOW w2 AS (PARTITION BY event_type ORDER BY day
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         | SELECT event_type, day AS day_idx, n AS n_events,
         |   round(cpos, 6) AS cusum_pos, round(cneg, 6) AS cusum_neg,
         |   (cpos > sigma * 4.0 OR cneg > sigma * 4.0) AS alarm
         | FROM cw""".stripMargin,

    "events_session_duration_hist" ->
      s"""WITH $sessSqlWith,
         | d AS (SELECT user_id, session_seq,
         |     (MAX(ts) - MIN(ts)) // 1000000 AS dur_s,
         |     CAST(COUNT(*) AS BIGINT) AS n_ev
         |   FROM sess GROUP BY 1, 2),
         | bk AS (SELECT CASE WHEN dur_s = 0 THEN 0
         |     ELSE length(bin(dur_s)) END AS bucket, dur_s, n_ev FROM d),
         | g AS (SELECT CAST(bucket AS BIGINT) AS bucket,
         |     CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |     CAST(SUM(n_ev) AS BIGINT) AS n_events,
         |     CAST(SUM(dur_s) AS BIGINT) AS total_seconds
         |   FROM bk GROUP BY 1)
         | SELECT bucket, CASE WHEN bucket = 0 THEN 0
         |     ELSE (1::BIGINT << CAST(bucket - 1 AS INTEGER)) END AS lo_seconds,
         |   n_sessions, n_events, total_seconds
         | FROM g""".stripMargin,

    "events_markov_entropy" ->
      s"""WITH $sessSqlWith,
         | nxt AS (SELECT event_type AS from_type,
         |     LEAD(event_type) OVER w AS to_type,
         |     session_seq, LEAD(session_seq) OVER w AS next_seq
         |   FROM sess
         |   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         | tr AS (SELECT from_type, to_type,
         |     CAST(COUNT(*) AS BIGINT) AS n_transitions
         |   FROM nxt WHERE to_type IS NOT NULL AND next_seq = session_seq
         |   GROUP BY 1, 2),
         | tot AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
         |   FROM tr GROUP BY 1),
         | p AS (SELECT tr.from_type, tot.n_from,
         |     CAST(tr.n_transitions AS DOUBLE) / tot.n_from AS p
         |   FROM tr JOIN tot USING (from_type)),
         | h AS (SELECT from_type, CAST(MAX(n_from) AS BIGINT) AS n_from,
         |     SUM(-p * ln(p)) AS h FROM p GROUP BY from_type),
         | n AS (SELECT CAST(SUM(n_from) AS BIGINT) AS n_total FROM h)
         | SELECT from_type, n_from, round(h, 6) AS h_from,
         |   round(CAST(n_from AS DOUBLE) / n_total * h, 6) AS h_contrib
         | FROM h CROSS JOIN n""".stripMargin,

    "events_markov_eval" ->
      s"""WITH $sessSqlWith,
         | nxt AS (SELECT event_type AS from_type,
         |     LEAD(event_type) OVER w AS to_type,
         |     session_seq, LEAD(session_seq) OVER w AS next_seq
         |   FROM sess
         |   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         | tr AS (SELECT from_type, to_type,
         |     CAST(COUNT(*) AS BIGINT) AS n_transitions
         |   FROM nxt WHERE to_type IS NOT NULL AND next_seq = session_seq
         |   GROUP BY 1, 2),
         | tot AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_pairs
         |   FROM tr GROUP BY 1),
         | win AS (SELECT from_type, to_type, n_transitions,
         |     ROW_NUMBER() OVER (PARTITION BY from_type
         |       ORDER BY n_transitions DESC, to_type ASC) AS rn
         |   FROM tr)
         | SELECT w.from_type, tot.n_pairs, w.to_type AS predicted_to,
         |   w.n_transitions AS n_correct,
         |   CAST(w.n_transitions AS DOUBLE) / tot.n_pairs AS accuracy
         | FROM win w JOIN tot USING (from_type) WHERE rn = 1""".stripMargin,

    "events_top_journeys" ->
      s"""WITH $sessSqlWith,
         | seqs AS (SELECT user_id, session_seq,
         |     string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence
         |   FROM sess GROUP BY user_id, session_seq)
         | SELECT sequence, CAST(COUNT(*) AS BIGINT) AS n_sessions
         | FROM seqs GROUP BY sequence
         | ORDER BY n_sessions DESC, sequence ASC LIMIT $TopJourneysK""".stripMargin,

    "events_funnel" ->
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
         | firsts AS (SELECT user_id,
         |   ${FunnelStages.map(s =>
              s"MIN(CASE WHEN event_type = '$s' THEN ts END) AS t_$s")
              .mkString(",\n |   ")}
         |   FROM ev GROUP BY user_id),
         | per_user AS (SELECT user_id,
         |   CASE WHEN t_signup IS NULL THEN 0
         |        WHEN t_view IS NULL OR t_view <= t_signup THEN 1
         |        WHEN t_click IS NULL OR t_click <= t_view THEN 2
         |        WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 3
         |        ELSE 4 END AS stages_reached
         |   FROM firsts),
         | stages(stage_idx, stage) AS (VALUES
         |   ${FunnelStages.zipWithIndex
              .map { case (s, i) => s"(${i + 1}, '$s')" }.mkString(", ")})
         | SELECT s.stage_idx, s.stage,
         |   CAST(COUNT(p.user_id) AS BIGINT) AS n_users
         | FROM stages s LEFT JOIN per_user p ON p.stages_reached >= s.stage_idx
         | GROUP BY s.stage_idx, s.stage""".stripMargin,

    "events_props_extract" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events""".stripMargin,

    "events_kanon" ->
      s"""SELECT event_type,
         |   CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |   CAST(COUNT(*) AS BIGINT) AS n_events,
         |   COUNT(DISTINCT user_id) >= $KAnonThreshold AS k_anonymous
         | FROM events GROUP BY 1, 2""".stripMargin,

    "events_kanon_apply" ->
      s"""WITH cells AS (SELECT event_type,
         |     CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |     COUNT(DISTINCT user_id) AS n_users
         |   FROM events GROUP BY 1, 2),
         | flagged AS (SELECT event_type, k FROM cells
         |   WHERE n_users < $KAnonThreshold)
         | SELECT e.event_id, e.event_type,
         |   CAST(json_extract_string(e.props, '$$.k') AS BIGINT) AS k
         | FROM events e JOIN flagged f
         |   ON f.event_type = e.event_type
         |   AND f.k IS NOT DISTINCT FROM
         |     CAST(json_extract_string(e.props, '$$.k') AS BIGINT)""".stripMargin,

    "events_hopping" -> {
      val advanceUs = HopAdvanceMinutes * 60L * 1000000L
      val hops = (0 until HopWindowMinutes / HopAdvanceMinutes)
        .map(i => s"($i)").mkString(", ")
      s"""WITH ev AS (SELECT epoch_us(ts) AS ts, event_type, value FROM events),
         | hops(i) AS (VALUES $hops),
         | w AS (SELECT (ts // $advanceUs - i) * $advanceUs AS win_start_us,
         |     event_type, value
         |   FROM ev CROSS JOIN hops)
         | SELECT win_start_us, event_type,
         |   CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS value_sum
         | FROM w GROUP BY 1, 2""".stripMargin
    },

    "events_running_ltv" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts,
        |     event_type, value FROM events)
        | SELECT event_id, user_id,
        |   CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS n_prior_events,
        |   SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS ltv_after
        | FROM ev
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "events_dedup" ->
      s"""WITH r AS (SELECT event_id, epoch_us(ts) AS ts FROM events
         | UNION ALL
         | SELECT event_id, epoch_us(ts) + $ReplayJitterUs AS ts FROM events)
         | SELECT event_id, MIN(ts) AS ts, CAST(COUNT(*) AS BIGINT) AS n_copies
         | FROM r GROUP BY event_id""".stripMargin,

    "events_scd2" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
        |     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |   FROM events),
        | attr AS (SELECT * FROM ev WHERE k IS NOT NULL),
        | marked AS (SELECT user_id, ts, event_id, k,
        |     LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
        |   FROM attr),
        | chg AS (SELECT user_id, ts, event_id, k FROM marked
        |   WHERE prev_k IS NULL OR k <> prev_k)
        | SELECT user_id, k, ts AS valid_from_us,
        |   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |     AS valid_to_us,
        |   (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) IS NULL
        |     AS is_current
        | FROM chg""".stripMargin,
  )
}
