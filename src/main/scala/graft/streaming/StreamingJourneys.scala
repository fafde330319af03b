package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Events.SessionGapMicros

/** Continuous journey extraction — the streaming face of
  * [[graft.operators.Events.markovTransitions]], and the engine's use of
  * Spark's arbitrary-stateful-processing primitive
  * (`KeyValueGroupedDataset.flatMapGroupsWithState`): the carried per-user
  * state is three fields (last event ts/type, session counter); each
  * arriving event either opens a new session (the same gap rule and
  * constant as the batch family) or EMITS the (from → to) transition it
  * completes. Crucially this includes transitions whose two events arrive
  * in DIFFERENT micro-batches — the case a per-batch recomputation
  * (the foreachBatch counter pattern [[StreamingDailyMonitor]] uses for its
  * additive counts) structurally cannot see, and the reason this family
  * needs real keyed state rather than a merge of per-batch aggregates.
  *
  * Delivery contract: events must arrive in (ts, event_id) order PER USER
  * across batches (the per-key in-order delivery a keyed Kafka topic
  * partition gives the reference app; cross-user interleaving is free —
  * within one batch the operator sorts each user's slice itself). A late
  * event would need watermarked buffering in front of this operator; that
  * reordering stage is deliberately out of scope here and documented.
  *
  * 100 TB shape: state is O(1) per active user (no per-event buffering —
  * unlike a buffer-and-sort session store, the state never grows with
  * activity), the one shuffle is the same hash(user_id) the batch family
  * pays, and emission is append-mode: each transition exactly once.
  * `StreamingJourneysSpec` pins streamed == batch parity, the cross-batch
  * link, and the state-size invariant.
  */
object StreamingJourneys {

  /** The minimal event slice the journey state machine needs. */
  case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String)

  /** Carried per-user state: the previous event and the session counter. */
  case class JourneyState(lastTs: Long, lastType: String, sessionSeq: Long)

  /** One emitted transition (session-local, user-attributed). */
  case class Transition(user_id: Long, session_seq: Long,
                        from_type: String, to_type: String)

  /** The transition stream. Works on a streaming OR batch Dataset — on a
    * batch frame the state store starts empty and every user's whole
    * history folds in one group call, which makes the batch-parity pin in
    * the spec a direct equality against [[graft.operators.Events
    * .markovTransitions]]' pair counts. */
  def transitions(events: Dataset[Ev]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[JourneyState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state: GroupState[JourneyState]) =>
          val out = Seq.newBuilder[Transition]
          var st = state.getOption.orNull
          // sort THIS batch's slice; cross-batch order is the delivery
          // contract (see scaladoc)
          evs.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            st =
              if (st == null || e.ts > st.lastTs + SessionGapMicros)
                JourneyState(e.ts, e.event_type,
                  if (st == null) 1L else st.sessionSeq + 1)
              else {
                out += Transition(user, st.sessionSeq, st.lastType, e.event_type)
                JourneyState(e.ts, e.event_type, st.sessionSeq)
              }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }
}
