package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live experiment (A/B) monitor — the streaming twin of ◆ `q_ab_lift`:
  * per-user keyed state tracks (enrolled, converted) and emits a DELTA row
  * the moment either flag first flips, so the running per-arm totals
  * (Σ d_users, Σ d_conv) equal the batch readout's (n, k) at every point
  * where the stream has drained — the experiment dashboard a 100 TB
  * deployment tails instead of rescanning raw events per refresh
  * (reference: src/streaming_service.py:336 recomputes its dashboards
  * from raw history each cycle).
  *
  * Delivery contract: both flags are IDEMPOTENT (first-flip-only), so
  * at-least-once redelivery and arbitrary cross-batch disorder change
  * nothing — a replayed event finds the flag already set and emits no
  * delta. This is the idempotent corner of the delivery contracts (the
  * one [[graft.sources.LatestStore]]'s blind append relies on), here as
  * keyed operator state. State is one
  * boolean pair per enrolled user; at 100 TB an event-time timeout at
  * experiment end (not set here — the fixture window is finite) releases
  * it.
  *
  * Equivalence (StreamSpec): deltas summed across any batch split, any
  * intra-batch order, and a full batch REPLAY equal `q_ab_lift`'s exact
  * integers, and the derived χ²/lift/CI row is the batch expression tree
  * on those same longs — bit-identical.
  */
object Experiment {

  /** One assignment-relevant event: user, arm (derived deterministically
    * upstream), conversion flag for THIS event. */
  final case class XEvent(user: Long, arm: Int, conv: Boolean)

  final case class XState(enrolled: Boolean, converted: Boolean)

  /** Per-user first-flip deltas: d_users/d_conv ∈ {0, 1}. */
  final case class XDelta(arm: Int, d_users: Long, d_conv: Long)

  def deltas(events: Dataset[XEvent]): Dataset[XDelta] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user, e.arm))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Long, Int), incoming: Iterator[XEvent], state: GroupState[XState]) =>
          val prev = state.getOption.getOrElse(XState(false, false))
          val sawConv = incoming.exists(_.conv)
          val next = XState(enrolled = true,
            converted = prev.converted || sawConv)
          state.update(next)
          val dUsers = if (prev.enrolled) 0L else 1L
          val dConv = if (!prev.converted && next.converted) 1L else 0L
          if (dUsers == 0L && dConv == 0L) Iterator.empty
          else Iterator.single(XDelta(key._2, dUsers, dConv))
      }
  }
}
