package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Events

/** Continuous forecast-quality monitoring — the streaming face of
  * [[Events.forecastBacktest]]: events fold per micro-batch into the
  * same compact (event_type, day, n_events) counter table the anomaly
  * monitor keeps, and each trigger re-scores the lag-7 seasonal-naive
  * baseline over the WHOLE observed history — so the serving dashboard
  * always shows the backtest as of now, and a model that stops beating
  * the naive MAE is caught while it degrades, not at the next offline
  * evaluation.
  *
  * Same design point as [[StreamingAnomaly]] (one foreachBatch, counter
  * merge O(batch), scoring over #types × #days rows — never the
  * stream): the backtest self-joins the day grain and re-aggregates per
  * type, a multi-hop over aggregate output that Structured Streaming
  * cannot express as a single continuous query. Scoring is the SAME
  * [[Events.forecastFromDaily]] the batch query and its oracle use —
  * streamed == batch pinned in `StreamingDailyForecastSpec`.
  *
  * 100 TB shape: identical to the anomaly monitor — bounded per-trigger
  * work, counter state additive and restart-warm via `initial`,
  * lineage truncated per generation. */
class StreamingDailyForecast(initial: Option[DataFrame] = None) {

  /** The accumulated (event_type, day, n_events) counter table — the
    * monitor's whole durable state (additive; persist + reseed to
    * restart warm). */
  @volatile private var counters: Option[DataFrame] = initial

  def state: Option[DataFrame] = counters

  /** Current backtest frame (None until the first trigger). */
  def backtest: Option[DataFrame] = counters.map(Events.forecastFromDaily)

  private def merge(batchDaily: DataFrame): DataFrame = counters match {
    case None => batchDaily
    case Some(prev) =>
      prev.unionByName(batchDaily)
        .groupBy("event_type", "day")
        .agg(sum("n_events").as("n_events"))
  }

  /** Start the monitor. `events` must be a STREAMING frame with the
    * events-table schema (ts epoch-µs int64); `sink` receives
    * (batchId, backtest frame) per trigger. */
  def run(events: DataFrame, checkpointDir: String,
          queryName: String = "graft_streaming_forecast")(
          sink: (Long, DataFrame) => Unit): StreamingQuery =
    StreamingScorer.run(queryName, events, checkpointDir) { batch =>
      val next = graft.engine.Staging.stageIterative(merge(Events.dailyCounts(batch)))
      counters = Some(next)
      Events.forecastFromDaily(next)
    }(sink)
}
