package graft.orchestration

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.LifecycleEvent

/** Append-only event history: the reference's `event_history`
  * collection (D9–D11, `/root/reference/src/kalytical/core/
  * data_provider.py:128-155`).
  *
  * D9 (save) is the service's flat, unpartitioned parquet append under
  * `service-state/events`, one batch per dispatch, with `received_time`
  * stamped at ingest (`GraftService`'s eventSink); this object holds
  * the read side (D10). The reference's flush (D11) is not served.
  */
object EventLog {

  /** D10 — history query: time-range + optional equality filters +
    * sort-desc + limit. The filters push into the scan (parquet
    * row-group stats skip old files, since `received_time` rises across
    * appends); the sort+limit plans as TakeOrderedAndProject. */
  def history(events: Dataset[LifecycleEvent],
              now: Timestamp,
              sinceSeconds: Long = 1000L,
              pipelineUuid: Option[String] = None,
              execUuid: Option[String] = None,
              eventType: Option[String] = None,
              eventSubtype: Option[String] = None,
              maxRecords: Int = 20): DataFrame = {
    val cutoff = new Timestamp(now.getTime - sinceSeconds * 1000L)
    var q = events.toDF().where(col("received_time") >= lit(cutoff))
    pipelineUuid.foreach(v => q = q.where(col("pipeline_uuid") === v))
    execUuid.foreach(v => q = q.where(col("exec_uuid") === v))
    eventType.foreach(v => q = q.where(col("event_type") === v))
    eventSubtype.foreach(v => q = q.where(col("event_subtype") === v))
    q.orderBy(col("received_time").desc, col("event_id").desc).limit(maxRecords)
  }
}
