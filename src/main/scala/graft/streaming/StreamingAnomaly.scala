package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Events

/** Continuous daily-volume anomaly monitoring — the streaming face of
  * [[Events.dailyAnomaly]]: events arrive as a stream, every micro-batch
  * folds its (event_type, day) counts into a compact counter table (the
  * KTable analog the transit job uses), and the FULL scored anomaly frame
  * — each day z-scored against its type's entire observed distribution —
  * goes to the caller's sink once per trigger.
  *
  * Design: foreachBatch with an incremental counter merge, not a native
  * windowed aggregation, because the scoring step re-aggregates the daily
  * grain per type (mean/variance over ALL days) and joins back — a
  * second stateful hop over aggregate output that Structured Streaming
  * cannot run as one continuous query. The counter merge is O(batch)
  * per trigger; scoring runs over the counter table, whose size is
  * #types × #days — not the stream.
  *
  * Parity: the counter table after any prefix of the stream equals
  * [[Events.dailyCounts]] of the same rows, and scoring is the SAME
  * [[Events.scoreDaily]] the batch query and its DuckDB oracle use —
  * pinned in `StreamingAnomalySpec`.
  *
  * 100 TB shape: per-trigger work is one map-side-combined aggregation of
  * the micro-batch plus a merge keyed on (type, day) — both bounded by
  * batch size and counter cardinality; the stream itself is never
  * re-scanned and no unbounded lineage accumulates (the counter is
  * eagerly staged per trigger via [[graft.engine.Staging.stageIterative]],
  * exactly like the transit job's counter state).
  */
class StreamingAnomaly(initial: Option[DataFrame] = None) {

  /** The accumulated (event_type, day, n_events) counter table. */
  @volatile private var counters: Option[DataFrame] = initial

  /** The counter table itself — the monitor's WHOLE durable state. Persist
    * it (parquet/Delta/JDBC) and seed a new monitor via `initial` to
    * restart warm: counts are additive, so a restored monitor continues
    * exactly (pinned in the spec). */
  def state: Option[DataFrame] = counters

  /** Current scored frame (empty-schema None until the first trigger). */
  def scored: Option[DataFrame] = counters.map(Events.scoreDaily)

  private def merge(batchDaily: DataFrame): DataFrame = counters match {
    case None => batchDaily
    case Some(prev) =>
      prev.unionByName(batchDaily)
        .groupBy("event_type", "day")
        .agg(sum("n_events").as("n_events"))
  }

  /** Start the monitor. `events` must be a STREAMING frame with the
    * events-table schema (ts epoch-µs int64, the Tables.events convention); `sink` receives
    * (batchId, scored anomaly frame) per trigger. */
  def run(events: DataFrame, checkpointDir: String,
          queryName: String = "graft_streaming_anomaly")(
          sink: (Long, DataFrame) => Unit): StreamingQuery =
    StreamingScorer.run(queryName, events, checkpointDir) { batch =>
      // eager iterative staging: truncates lineage (replaced generations
      // are reclaimed by the ContextCleaner once unreferenced)
      val next = graft.engine.Staging.stageIterative(merge(Events.dailyCounts(batch)))
      counters = Some(next)
      Events.scoreDaily(next)
    }(sink)
}
