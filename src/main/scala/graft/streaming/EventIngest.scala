package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

import graft.model.LifecycleEvent

/** Streaming ingress: the reference's SQS long-poll loop (S1,
  * `/root/reference/src/kalytical/core/mq_poller.py:16-40`) as a
  * Structured Streaming source.
  *
  * The service reads each `http-mq` micro-batch (a Kafka topic in
  * production) as raw JSON strings, and the poller's unmarshal-or-log
  * step (`_unmarshall_sqs`, `mq_poller.py:31-36`) is the facade's
  * driver-side codec ([[graft.api.JsonCodec.messages]]): the same
  * decoding rules as an HTTP event body, with the messages it rejects
  * kept in a quarantine instead of being dropped (the reference's
  * committed code deletes at most one message per poll and even on
  * failure — §8.17; intended at-least-once semantics come free from
  * checkpointed source offsets).
  */
object EventIngest {

  /** The lifecycle event's row schema: what a message decodes to. */
  val eventSchema: StructType = Encoders.product[LifecycleEvent].schema
}
