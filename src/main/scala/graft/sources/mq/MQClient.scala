package graft.sources.mq

/** The service's view of a message queue (S1, `mq_poller.py:16-30`): an
  * offset-addressed log the driver polls. Offsets are message counts,
  * dense and in arrival order, so a committed offset names exactly the
  * messages consumed and a replay from it re-reads the same
  * (offset, body) pairs. The consumer keeps its offset itself (the
  * service journals it with the batch's effects); `commit` only tells
  * the transport what it may drop upstream.
  */
trait MQClient {

  /** The current message count. */
  def tail: Long

  /** The tail once it passes `after`, or after `waitMs` — whichever
    * comes first (the SQS long-poll). A transport that cannot wait
    * answers at once. */
  def awaitTail(after: Long, waitMs: Long): Long

  /** The messages at offsets `[from, to)` as (offset, epochMillis,
    * body), in offset order. */
  def read(from: Long, to: Long): Seq[(Long, Long, Array[Byte])]

  /** Ack the messages below `end` upstream. A committed range stays
    * readable. */
  def commit(end: Long): Unit

  /** The end of the next batch from the committed offset `from`: the
    * tail once it passes `from` (or `waitMs` elapses), capped at
    * `from + max`. A tail below `from` means messages were removed under
    * the committed offset, which remaps offset to message: that fails
    * loudly rather than skip or re-deliver. */
  final def batchEnd(from: Long, waitMs: Long, max: Long = MQClient.MaxBatch): Long = {
    val t = awaitTail(from, waitMs)
    if (t < from)
      throw new IllegalStateException(
        s"mq tail $t is below the committed offset $from - messages were " +
          "removed under a live checkpoint, which remaps offset->message; " +
          "restore the removed messages or reset the offset")
    math.min(t, from + max)
  }
}

object MQClient {
  /** The most messages one batch admits: a backlog drains over several
    * batches, each committed on its own. */
  val MaxBatch = 100000L
}
