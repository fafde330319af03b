package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Events

/** A continuous monitor over the daily event grain: events arrive as a
  * stream, every micro-batch folds its (event_type, day) counts into a
  * compact counter table (the KTable analog the transit job uses), and
  * `score` re-scores the WHOLE table once per trigger for the caller's
  * sink. Two scorers exist, each the SAME function the batch query and its
  * DuckDB oracle use:
  *   - [[StreamingDailyMonitor.anomaly]] — [[Events.scoreDaily]], the
  *     streaming face of [[Events.dailyAnomaly]]: each day z-scored
  *     against its type's entire observed distribution, so a day that
  *     looked normal is re-judged as the baseline grows;
  *   - [[StreamingDailyMonitor.forecast]] — [[Events.forecastFromDaily]],
  *     the streaming face of [[Events.forecastBacktest]]: the lag-7
  *     seasonal-naive backtest over the whole history, so a model that
  *     stops beating the naive MAE is caught while it degrades.
  * Streamed == batch is pinned in `StreamingAnomalySpec` and
  * `StreamingDailyForecastSpec`.
  *
  * Design: foreachBatch with an incremental counter merge, not a native
  * windowed aggregation, because both scorers re-aggregate the daily
  * grain per type (and the backtest self-joins it) — a second stateful
  * hop over aggregate output that Structured Streaming cannot run as one
  * continuous query. The counter merge is O(batch) per trigger; scoring
  * runs over the counter table, whose size is #types × #days — not the
  * stream. The counter is eagerly staged per trigger via
  * [[graft.engine.Staging.stageIterative]], so no unbounded lineage
  * accumulates.
  *
  * The counter table after any prefix of the stream equals
  * [[Events.dailyCounts]] of the same rows; counts are additive, so a
  * monitor seeded via `initial` with a persisted [[state]] restarts warm
  * and continues exactly. */
class StreamingDailyMonitor(score: DataFrame => DataFrame, defaultName: String,
                            initial: Option[DataFrame]) {

  /** The accumulated (event_type, day, n_events) counter table. */
  @volatile private var counters: Option[DataFrame] = initial

  /** The counter table itself — the monitor's WHOLE durable state. Persist
    * it (parquet/Delta/JDBC) and seed a new monitor via `initial` to
    * restart warm. */
  def state: Option[DataFrame] = counters

  /** Current scored frame (None until the first trigger). */
  def scored: Option[DataFrame] = counters.map(score)

  private def merge(batchDaily: DataFrame): DataFrame = counters match {
    case None => batchDaily
    case Some(prev) =>
      prev.unionByName(batchDaily)
        .groupBy("event_type", "day")
        .agg(sum("n_events").as("n_events"))
  }

  /** Start the monitor. `events` must be a STREAMING frame with the
    * events-table schema (ts epoch-µs int64, the Tables.events
    * convention); `sink` receives (batchId, scored frame) per trigger. */
  def run(events: DataFrame, checkpointDir: String,
          queryName: String = defaultName)(
          sink: (Long, DataFrame) => Unit): StreamingQuery =
    StreamingScorer.run(queryName, events, checkpointDir) { batch =>
      // eager iterative staging: truncates lineage (replaced generations
      // are reclaimed by the ContextCleaner once unreferenced)
      val next = graft.engine.Staging.stageIterative(merge(Events.dailyCounts(batch)))
      counters = Some(next)
      score(next)
    }(sink)
}

object StreamingDailyMonitor {

  /** Daily-volume anomaly monitor ([[Events.scoreDaily]]). */
  def anomaly(initial: Option[DataFrame] = None): StreamingDailyMonitor =
    new StreamingDailyMonitor(Events.scoreDaily, "graft_streaming_anomaly", initial)

  /** Forecast-quality monitor ([[Events.forecastFromDaily]]). */
  def forecast(initial: Option[DataFrame] = None): StreamingDailyMonitor =
    new StreamingDailyMonitor(Events.forecastFromDaily, "graft_streaming_forecast",
      initial)
}
