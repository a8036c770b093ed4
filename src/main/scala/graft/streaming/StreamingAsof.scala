package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming AS-OF join — the stateful twin of the batch
  * `Analytics2.asofJoin` window formulation, substantiating its claim
  * that the operator's state is O(1) per key: one
  * `flatMapGroupsWithState` keyed by user whose entire state is the
  * latest view `(ts, id)` seen so far.
  *
  * Each group invocation sorts its micro-batch slice by
  * `(ts, side, id)` — the batch plan's exact sort key — and folds:
  * views overwrite the state (ascending id makes "overwrite-last"
  * equal the batch plan's max-id-per-timestamp collapse), purchases
  * emit the carried view. With an in-order source (the replay spec
  * drives one `AvailableNow` batch) this is bit-equal to the batch
  * as-of; an out-of-order production feed would buffer behind a
  * watermark before the fold — the fold itself is unchanged.
  */
object StreamingAsof {

  final case class AsofEvent(user_id: Long, ts: Timestamp, side: Int, id: Long)
  final case class ViewState(ts: Timestamp, id: Long)
  final case class AsofOut(purchase_id: Long, user_id: Long, purchase_ts: Timestamp,
                           view_id: Option[Long], view_ts: Option[Timestamp])

  def asofStream(events: Dataset[AsofEvent]): Dataset[AsofOut] = {
    implicit val stateEnc = Encoders.product[ViewState]
    implicit val outEnc = Encoders.product[AsofOut]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsofEvent], state: GroupState[ViewState]) =>
          // MICROSECOND key (r10 review: getTime truncates to ms, so a
          // view and purchase inside the same millisecond sorted by
          // (side, id) instead of time — attribution diverged from the
          // batch asofCore, which orders by the full TIMESTAMP_MICROS)
          val sorted = it.toIndexedSeq.sortBy(e => (tsMicros(e.ts), e.side, e.id))
          var last = state.getOption
          val out = Vector.newBuilder[AsofOut]
          sorted.foreach { e =>
            if (e.side == 0) last = Some(ViewState(e.ts, e.id))
            else out += AsofOut(e.id, user, e.ts, last.map(_.id), last.map(_.ts))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
