package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.Events

/** Continuous level-shift monitor — the streaming face of
  * [[Events.cusum]]: pre-aggregated daily counts arrive as a stream,
  * per-type keyed state carries the textbook two-sided recurrence
  * s⁺ = max(0, s⁺ + x − μ − k), s⁻ = max(0, s⁻ + μ − k − x) against a
  * FROZEN (μ, σ) model trained offline ([[Events.cusumModel]], the
  * [[StreamingScorer]] train-offline/score-online convention), and an alarm
  * fires the moment either side crosses 4σ — days, not a nightly batch,
  * after a drift starts.
  *
  * The batch face computes the SAME quantity through the prefix-minimum
  * window identity (order-free, whole-series); the stream keeps the
  * 2-number recurrence (order-sensitive, O(1) state). Equality of the
  * two forms is the batch spec's pinned theorem; the streamed == batch
  * parity here is pinned in `StreamingCusumSpec` to float tolerance
  * (same reals, different op order).
  *
  * Silent days register: a gap between the carried `last_day` and an
  * arriving day folds the missing days as zero counts first — an outage
  * drives s⁻ exactly as in the filled batch grid.
  *
  * Arrival-order contract: records fold in day order within a batch and
  * batches are assumed day-ordered per type across triggers — the
  * `StreamingJourneys` ordered-ingest assumption.
  *
  * 100 TB shape: the stream is the ≤|types|·|days| daily grain (the raw
  * events were aggregated upstream), one hash(type) shuffle per
  * micro-batch, eight numbers of state per type, update-mode emission
  * of touched types only. */
object StreamingCusum {

  /** A daily count record — the monitor's pre-aggregated input grain. */
  case class DayCount(event_type: String, day: Long, n: Long)

  /** Carried per-type state == emitted row. */
  case class CusumState(event_type: String, last_day: Long, n_days: Long,
                        cusum_pos: Double, cusum_neg: Double, alarm: Boolean)

  /** Collect a trained [[Events.cusumModel]] frame into the broadcastable
    * per-type (μ, σ) map the monitor closes over. */
  def modelOf(model: org.apache.spark.sql.DataFrame): Map[String, (Double, Double)] =
    model.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  /** The updated-monitor stream: one row per touched type per trigger.
    * Works on a streaming OR batch Dataset (the spec's parity pin). */
  def monitor(days: Dataset[DayCount], model: Map[String, (Double, Double)])
      : Dataset[CusumState] = {
    import days.sparkSession.implicits._
    days.groupByKey(_.event_type)
      .mapGroupsWithState[CusumState, CusumState](GroupStateTimeout.NoTimeout) {
        case (t, rows, state: GroupState[CusumState]) =>
          val (mu, sigma) = model.getOrElse(t, (0.0, 0.0))
          val k = sigma / 2; val h = 4 * sigma
          val init = state.getOption.getOrElse(
            CusumState(t, Long.MinValue, 0L, 0.0, 0.0, alarm = false))
          val st = rows.toSeq.sortBy(_.day).foldLeft(init) { (s, r) =>
            val from = if (s.n_days == 0) r.day else s.last_day + 1
            (from to r.day).foldLeft(s) { (acc, d) =>
              val x = if (d == r.day) r.n.toDouble else 0.0
              val sp = math.max(0.0, acc.cusum_pos + x - mu - k)
              val sn = math.max(0.0, acc.cusum_neg + (mu - k - x))
              CusumState(t, d, acc.n_days + 1, sp, sn, sp > h || sn > h)
            }
          }
          state.update(st)
          st
      }
  }
}
