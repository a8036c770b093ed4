package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD TYPE-2 — the stateful twin of the batch
  * `EventOps.scd2` gaps-and-islands chain, substantiating its claim
  * that interval compression needs O(1) state per key: one
  * `flatMapGroupsWithState` keyed by user whose entire state is the
  * OPEN interval `(run_id, state, valid_from_us, n_events)`. Each
  * arriving event either extends the open interval (same type — a
  * pure state bump, nothing emitted) or CLOSES it (type change —
  * emit the finished interval with `valid_to` = the new event's
  * timestamp, `is_current = false`, then open the next run). The
  * emitted append stream is exactly the batch query's closed
  * (`is_current = false`) rows — the replay spec checks set equality
  * — while the open interval per user lives only in state, the same
  * way a warehouse's streaming SCD2 materializer holds the current
  * dimension row open until the next change arrives.
  *
  * Ordering contract: each group invocation sorts its micro-batch
  * slice by the batch plan's composite `(ts, event_id)` order — the
  * identical tiebreak the batch window and the oracle use — and folds
  * left-to-right, carrying the open interval across micro-batch
  * boundaries. An out-of-order production feed would buffer behind a
  * watermark before the fold; the fold is unchanged.
  */
object StreamingScd2 {

  final case class Scd2Event(user_id: Long, event_id: Long, ts: Timestamp,
                             event_type: String)
  final case class OpenInterval(run_id: Long, state: String,
                                valid_from_us: Long, n_events: Long)
  final case class ClosedInterval(user_id: Long, interval_seq: Long, state: String,
                                  valid_from_us: Long, valid_to_us: Long,
                                  n_events: Long)

  private def us(t: Timestamp): Long = tsMicros(t) // shared precision contract

  def scd2Stream(events: Dataset[Scd2Event]): Dataset[ClosedInterval] = {
    implicit val stateEnc = Encoders.product[OpenInterval]
    implicit val outEnc = Encoders.product[ClosedInterval]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Scd2Event], state: GroupState[OpenInterval]) =>
          var open = state.getOption
          val out = Vector.newBuilder[ClosedInterval]
          it.toIndexedSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            open match {
              case Some(o) if o.state == e.event_type =>
                open = Some(o.copy(n_events = o.n_events + 1))
              case Some(o) =>
                out += ClosedInterval(user, o.run_id, o.state,
                  o.valid_from_us, us(e.ts), o.n_events)
                open = Some(OpenInterval(o.run_id + 1, e.event_type, us(e.ts), 1L))
              case None =>
                open = Some(OpenInterval(1L, e.event_type, us(e.ts), 1L))
            }
          }
          open.foreach(state.update)
          out.result().iterator
      }
  }
}
