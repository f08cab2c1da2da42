package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live first-order event-transition pairs — the streaming half of
  * ◆ `q_transitions`: each arriving event is paired with the SAME user's
  * previous event type, so the downstream `groupBy(from, to).count`
  * maintains the batch query's Markov matrix incrementally.
  *
  * The batch twin computes `lag(event_type)` over the per-user time
  * order; a stream cannot lag what has not arrived, so the state machine
  * owns exactly that one value: state = the latest (us, event_id, type)
  * seen per user — ONE row per DISTINCT user ever seen, independent of
  * stream length — and each micro-batch's events are sorted (us,
  * event_id) inside the group before pairing, so in-batch disorder is
  * absorbed. Cross-batch, the pairing assumes per-key event-time-ordered
  * delivery (what a key-partitioned log gives); an arrival older than
  * the stored state is paired in ARRIVAL order rather than re-sorting
  * history — the honest cost of O(1) state (StreamSpec pins that
  * divergence mode explicitly). StreamSpec proves live ≡ batch counts
  * under in-order batch splits with intra-batch shuffling.
  *
  * [[pairsExact]] is the EXACT-mode variant for unordered feeds: it
  * buffers each user's not-yet-final events until the watermark passes
  * them, so cross-batch out-of-order arrivals are re-sorted into true
  * event-time order and live ≡ batch holds under ANY admissible split.
  * State is O(events inside the watermark horizon) per user — the price
  * of exactness; pick per feed: keyed logs → [[pairs]], unordered
  * collectors → [[pairsExact]] with the collector's disorder bound as
  * the watermark delay.
  */
object Transitions {

  /** `us` is epoch MICROS (`unix_micros(ts)`), computed by the caller in
    * the engine's column space — `Timestamp.getTime` is millis, and
    * ordering by millis would silently diverge from the batch twin's
    * micro-precision (us, event_id) order whenever two events share a
    * millisecond (the `\s`-vs-`\x0B` class of latent divergence).
    */
  final case class TEvent(
      user_id: Long, event_id: Long, event_type: String, us: Long)
  final case class LastSeen(us: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Pair each event with its predecessor's type. Append-mode stateful
    * map; no timeout — a user's last type stays resident so a returning
    * user still chains correctly (evict-by-timeout would silently break
    * the chain for long-idle users; at 100 TB keys the state store holds
    * one small row per user, the same order as any per-user feature).
    */
  def pairs(events: Dataset[TEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, incoming: Iterator[TEvent], state: GroupState[LastSeen]) =>
          val batch = incoming.toArray.sortBy(e => (e.us, e.event_id))
          var last = state.getOption
          val out = Array.newBuilder[Transition]
          batch.foreach { e =>
            last.foreach(l => out += Transition(uid, l.event_type, e.event_type))
            last = Some(LastSeen(e.us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Exact-mode input row: `us` is epoch micros (the ordering authority,
    * same contract as [[TEvent]]); `ts` is the SAME instant as a
    * timestamp column, present only so the caller can `withWatermark` on
    * it — Spark's event-time machinery needs a TimestampType column,
    * and deriving `us` independently of `ts` is exactly the
    * millis-vs-micros divergence the [[TEvent]] scaladoc warns about, so
    * both must come from the one source column.
    */
  final case class TExact(user_id: Long, event_id: Long, event_type: String,
      us: Long, ts: java.sql.Timestamp)
  final case class ExactState(last: Option[LastSeen], buf: Seq[TExact])

  /** Event-time-exact pairing: emit a user's transitions only once the
    * watermark has passed the event, holding newer events in per-user
    * state until then. An event is FINAL once the watermark passes it —
    * Spark drops any later arrival below the watermark before it reaches
    * this operator — so emitted pairs are in true (us, event_id) order
    * regardless of arrival order, and live ≡ batch exactly on the
    * admitted event set. `events` must carry a watermark on `ts` (the
    * feed's disorder bound); the held suffix flushes via event-time
    * timeout when the watermark passes its newest event. The ready
    * boundary is strict at millisecond resolution (the watermark API's
    * grain), which can only HOLD a boundary event longer, never emit it
    * early — order is safe under either admit convention.
    */
  def pairsExact(events: Dataset[TExact]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, incoming: Iterator[TExact], state: GroupState[ExactState]) =>
          val st = state.getOption.getOrElse(ExactState(None, Nil))
          val (ready, hold) =
            if (state.hasTimedOut) {
              // the watermark passed everything we armed the timer for
              (st.buf.sortBy(e => (e.us, e.event_id)), Seq.empty[TExact])
            } else {
              val wmMs = state.getCurrentWatermarkMs()
              (st.buf ++ incoming).sortBy(e => (e.us, e.event_id))
                .partition(e => e.us / 1000L < wmMs)
            }
          var last = st.last
          val out = Array.newBuilder[Transition]
          ready.foreach { e =>
            last.foreach(l => out += Transition(uid, l.event_type, e.event_type))
            last = Some(LastSeen(e.us, e.event_id, e.event_type))
          }
          state.update(ExactState(last, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_.us).max / 1000L + 1L)
          out.result().iterator
      }
  }
}
