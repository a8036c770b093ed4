package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

import graft.model.LifecycleEvent

/** The lifecycle event's row schema: what an MQ message or an HTTP event
  * body decodes to ([[graft.api.JsonCodec]]). No main code reads it;
  * graftbench's self-test checks its event JSON against these fields. */
object EventIngest {
  val eventSchema: StructType = Encoders.product[LifecycleEvent].schema
}
