package graft.orchestration

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.LifecycleEvent

/** Append-only event history: the reference's `event_history`
  * collection (D9–D11, `/root/reference/src/kalytical/core/
  * data_provider.py:128-155`).
  *
  * D9 (save) is the service's journal (`GraftService`, `api.Journal`):
  * each accepted batch is one hsync'd JSON line, with `received_time`
  * stamped at ingest. The culler tick's compaction moves the closed
  * segments' events into the parquet history under
  * `service-state/events`, one file per segment. This object holds the
  * read side (D10): [[history]] over the whole log ([[EventHistory]]),
  * and [[historyRows]] over the driver-held [[EventTail]]. The
  * reference's flush (D11) is not served.
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

  /** D10 over driver rows: the same window (`received_time` at or after
    * the cutoff), pipeline filter, newest-first order and limit as
    * [[history]]. */
  def historyRows(events: Seq[LifecycleEvent], cutoffMs: Long,
                  pipelineUuid: Option[String], maxRecords: Int): Seq[LifecycleEvent] =
    events
      .filter(e => e.received_time != null && e.received_time.getTime >= cutoffMs &&
        pipelineUuid.forall(_ == e.pipeline_uuid))
      .sortWith { (a, b) =>
        val c = a.received_time.compareTo(b.received_time)
        if (c != 0) c > 0 else a.event_id > b.event_id
      }
      .take(maxRecords)
}

/** The whole event log, built when read: the compacted parquet history
  * (once there is one) and the events held on the driver since. Each
  * applied batch is appended here; a standalone facade never compacts,
  * so its log is all held. `get()` is one Dataset over both, planned per
  * read, never per append. */
final class EventHistory(spark: SparkSession) {
  private val enc = Encoders.product[LifecycleEvent]
  private var held = Vector.empty[LifecycleEvent]
  private var dir: Option[String] = None

  def append(events: Seq[LifecycleEvent]): Unit = synchronized { held ++= events }

  def heldCount: Int = synchronized(held.size)

  /** The first `n` held events now live in the parquet history under
    * `history`: `publish` moves their files there, under the same lock
    * as the drop, so no read sees them twice. */
  def compacted(n: Int, history: String)(publish: => Unit): Unit = synchronized {
    publish
    held = held.drop(n)
    dir = Some(history)
  }

  def get(): Dataset[LifecycleEvent] = synchronized {
    val local = spark.createDataset(held)(enc)
    dir.fold(local)(d => spark.read.schema(enc.schema).parquet(d).as[LifecycleEvent](enc).union(local))
  }
}

/** The recent end of the event log, held on the driver so that a
  * history read plans no query. It holds every event this incarnation
  * logged whose `received_time` is within `keepSeconds` of the newest
  * one. The coverage floor is the highest `received_time` of any logged
  * event it does NOT hold (trimmed here, or written by an earlier
  * incarnation and raised by the restore): a window whose cutoff is
  * above the floor has every one of its events here. The floor goes by
  * the events' own stamps, not the wall clock, because a request may
  * stamp any time (`now_epoch_ms`). */
final class EventTail(keepSeconds: Long) {
  private var held = Vector.empty[LifecycleEvent]
  private var newestMs = Long.MinValue
  private var floorMs = Long.MinValue

  def append(events: Seq[LifecycleEvent]): Unit = synchronized {
    val stamped = events.filter(_.received_time != null)
    held ++= stamped
    stamped.foreach(e => newestMs = math.max(newestMs, e.received_time.getTime))
    val keepFrom = newestMs - keepSeconds * 1000L
    if (held.exists(_.received_time.getTime < keepFrom)) {
      val (old, kept) = held.partition(_.received_time.getTime < keepFrom)
      floorMs = math.max(floorMs, old.map(_.received_time.getTime).max)
      held = kept
    }
  }

  /** Events held elsewhere, up to this stamp, are not here. */
  def raiseFloor(ms: Long): Unit = synchronized { floorMs = math.max(floorMs, ms) }

  /** D10 from the held rows when the window is covered; None sends the
    * read to the whole log. */
  def history(cutoffMs: Long, pipelineUuid: Option[String],
              maxRecords: Int): Option[Seq[LifecycleEvent]] = {
    val (rows, floor) = synchronized((held, floorMs))
    if (cutoffMs > floor) Some(EventLog.historyRows(rows, cutoffMs, pipelineUuid, maxRecords))
    else None
  }
}

/** Logged event ids by `received_time`, within `horizonMs` of the newest
  * stamp: the MQ replay probe (an id logged at or after the probe's
  * cutoff was already applied). Restored from the journal and the
  * parquet history at start, then updated with every logged batch. */
final class LoggedIds(horizonMs: Long) {
  private val stampOf = scala.collection.mutable.HashMap.empty[Long, Long]
  private val arrivals = scala.collection.mutable.Queue.empty[(Long, Long)]
  private var newestMs = Long.MinValue

  def add(ids: Seq[(Long, Long)]): Unit = synchronized {
    ids.foreach { case (id, ms) =>
      stampOf(id) = math.max(ms, stampOf.getOrElse(id, Long.MinValue))
      arrivals += ((id, ms))
      newestMs = math.max(newestMs, ms)
    }
    while (arrivals.nonEmpty && arrivals.head._2 < newestMs - horizonMs) {
      val (id, ms) = arrivals.dequeue()
      if (stampOf.get(id).contains(ms)) stampOf.remove(id)
    }
  }

  def seenSince(id: Long, cutoffMs: Long): Boolean =
    synchronized(stampOf.get(id).exists(_ >= cutoffMs))
}
