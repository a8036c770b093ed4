package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ORDERED FUNNEL — the stateful twin of the batch
  * `EventOps.funnelSteps` window chain, substantiating its claim that
  * funnel progress is O(1) state per user: one `flatMapGroupsWithState`
  * keyed by user whose entire state is the three first-reach
  * timestamps `(t1, t2, t3)` — first view, first qualifying click
  * (within the deadline of t1), first qualifying purchase (within the
  * deadline of t2). Each transition is emitted exactly once, as an
  * Append-mode `(user_id, stage_ord, ts)` record; per-stage distinct
  * user counts over the emitted stream equal the batch funnel's
  * `n_users` column.
  *
  * Each group invocation sorts its micro-batch slice by `ts` and
  * folds. In event-time order every state field is write-once (the
  * first view IS the min view; the first qualifying click IS the min
  * qualifying click), so the fold needs no retraction. All three
  * gates use the batch plan's STRICT inequalities (`t1 < c`,
  * `t2 < p`), which also makes processing order within an equal
  * timestamp irrelevant — a click at exactly t1 fails the strict gate
  * no matter which side of the view it lands in the sorted slice. With
  * an in-order source (the replay spec drives one `AvailableNow`
  * batch) this is bit-equal to the batch funnel; an out-of-order
  * production feed would buffer behind a watermark before the fold —
  * the fold itself is unchanged. The deadline constant is shared with the batch plan
  * (`EventOps.FunnelUs`), the same single-constant contract the
  * oracle SQL rides.
  */
object StreamingFunnel {

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long])
  final case class StageReached(user_id: Long, stage_ord: Int, ts: Timestamp)

  private def us(t: Timestamp): Long = tsMicros(t) // shared precision contract

  def funnelStream(events: Dataset[FunnelEvent],
                   deadlineUs: Long = graft.operators.EventOps.FunnelUs): Dataset[StageReached] = {
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[StageReached]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = Vector.newBuilder[StageReached]
          it.toIndexedSeq.sortBy(e => us(e.ts)).foreach { e =>
            val t = us(e.ts)
            e.event_type match {
              case "view" if st.t1.isEmpty =>
                st = st.copy(t1 = Some(t)); out += StageReached(user, 1, e.ts)
              case "click" if st.t2.isEmpty &&
                st.t1.exists(v => v < t && t <= v + deadlineUs) =>
                st = st.copy(t2 = Some(t)); out += StageReached(user, 2, e.ts)
              case "purchase" if st.t3.isEmpty &&
                st.t2.exists(c => c < t && t <= c + deadlineUs) =>
                st = st.copy(t3 = Some(t)); out += StageReached(user, 3, e.ts)
              case _ => ()
            }
          }
          // write state ONLY when there is progress to remember (r12
          // review: the unconditional update minted an all-None state
          // row for EVERY user_id ever seen — e.g. scroll-only users —
          // so with NoTimeout the store grew with total distinct users
          // instead of users with funnel progress, and every
          // checkpoint snapshotted the dead entries)
          if (st != FunnelState(None, None, None)) state.update(st)
          out.result().iterator
      }
  }
}
