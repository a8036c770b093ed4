package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MARKOV TRANSITIONS — the stateful twin of the batch
  * `EventOps.transitions` lag window, substantiating its claim that
  * the transition stream needs O(1) state per user: one
  * `flatMapGroupsWithState` keyed by user whose entire state is the
  * LAST event seen `(ts_us, event_id, event_type)`. Each arriving
  * event emits exactly one `(src, dst)` transition record (none for
  * the user's first event ever), so the downstream count aggregation
  * over the emitted append stream equals the batch matrix's `n`
  * column — the replay spec checks exactly that.
  *
  * Each group invocation sorts its micro-batch slice by the batch
  * plan's composite order `(ts, event_id)` — the same tiebreak the
  * lag window and the oracle use — and folds left-to-right, carrying
  * the last event across micro-batch boundaries in state. With an
  * in-order source (the replay spec drives one `AvailableNow` batch)
  * this is bit-equal to the batch lag; an out-of-order production
  * feed would buffer behind a watermark before the fold — the fold
  * itself is unchanged.
  */
object StreamingTransitions {

  final case class TransitionEvent(user_id: Long, event_id: Long, ts: Timestamp,
                                   event_type: String)
  final case class LastEvent(ts_us: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, src: String, dst: String)

  private def us(t: Timestamp): Long = tsMicros(t) // shared precision contract

  def transitionStream(events: Dataset[TransitionEvent]): Dataset[Transition] = {
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val outEnc = Encoders.product[Transition]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TransitionEvent], state: GroupState[LastEvent]) =>
          var last = state.getOption
          val out = Vector.newBuilder[Transition]
          it.toIndexedSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            last.foreach(l => out += Transition(user, l.event_type, e.event_type))
            last = Some(LastEvent(us(e.ts), e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
