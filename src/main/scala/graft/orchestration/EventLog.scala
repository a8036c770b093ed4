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
  * read side (D10): [[history]] over a whole log, and [[historyRows]]
  * over driver rows; the service's log is one [[EventLog]] value, which
  * answers a window from either. The reference's flush (D11) is not
  * served.
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

/** The event log on the driver: one value, fed once per applied batch
  * ([[append]], the facade's event sink), handed over once per
  * compaction ([[compacted]]) and restored once per start
  * ([[restore]]). It holds three things:
  *  - the accepted events: every one not yet compacted into the parquet
  *    history, and the compacted ones whose `received_time` is within
  *    `keepSeconds` (the default history window) of the newest stamp;
  *  - one coverage floor: the newest `received_time` of any logged event
  *    it does not hold (trimmed here, or in the parquet history a
  *    restart found). A window whose cutoff is above the floor has every
  *    one of its events here, so [[history]] answers it from driver rows.
  *    The floor goes by the events' own stamps, not the wall clock,
  *    because a request may stamp any time (`now_epoch_ms`);
  *  - the MQ replay probe's index: the logged ids by stamp, within
  *    `horizonMs` of the newest stamp ([[seenSince]]).
  * [[get]] is the whole log, the parquet history ∪ the uncompacted
  * events, each once; it is planned per read, never per append. A
  * standalone facade never compacts, so its log is all held. */
final class EventLog(spark: SparkSession, keepSeconds: Long, horizonMs: Long) {
  private val enc = Encoders.product[LifecycleEvent]
  private var held = Vector.empty[LifecycleEvent]
  private var inHistory = 0 // the first `inHistory` held events are in the parquet history
  private var appended = 0L
  private var newestMs = Long.MinValue
  private var floorMs = Long.MinValue
  private var dir: Option[String] = None
  private val stampOf = scala.collection.mutable.HashMap.empty[Long, Long]
  private val arrivals = scala.collection.mutable.Queue.empty[(Long, Long)]

  def append(events: Seq[LifecycleEvent]): Unit = synchronized {
    held ++= events
    appended += events.size
    index(events.collect { case e if e.received_time != null => e.event_id -> e.received_time.getTime })
    trim()
  }

  /** The count of events appended so far: taken when the journal rolls,
    * it marks the events the roll's closed segments hold. */
  def mark: Long = synchronized(appended)

  /** The events appended before `mark` are now in the parquet history
    * under `history`: `publish` moves their files there, under the same
    * lock as the hand-off, so no read sees them twice. They stay held
    * while inside the window. */
  def compacted(mark: Long, history: String)(publish: => Unit): Unit = synchronized {
    publish
    inHistory = held.size - (appended - mark).toInt
    dir = Some(history)
    trim()
  }

  /** A start over a durable root: `events` are the journal's events not
    * yet in the parquet history, `history` that history once a
    * compaction made one. One read takes the history's ids within the
    * MQ horizon of `nowMs`. Every history row lies at or below the
    * newest of them or below the cutoff, so the floor rises to the
    * larger of the two. */
  def restore(events: Seq[LifecycleEvent], history: Option[String], nowMs: Long): Unit = synchronized {
    append(events)
    history.foreach { d =>
      dir = Some(d)
      val cutoff = nowMs - horizonMs
      val recent = spark.read.schema(enc.schema).parquet(d)
        .where(col("received_time") >= lit(new Timestamp(cutoff)))
        .select(col("event_id"), col("received_time")).collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toSeq
      index(recent)
      floorMs = math.max(floorMs, (cutoff +: recent.map(_._2)).max)
    }
  }

  def get(): Dataset[LifecycleEvent] = synchronized {
    val local = spark.createDataset(held.drop(inHistory))(enc)
    dir.fold(local)(d => spark.read.schema(enc.schema).parquet(d).as[LifecycleEvent](enc).union(local))
  }

  /** Whether a window from `cutoffMs` has every one of its events held. */
  def covers(cutoffMs: Long): Boolean = synchronized(cutoffMs > floorMs)

  /** D10 over the whole log: from the held rows when the window is
    * covered, else one query over [[get]]. */
  def history(now: Timestamp, sinceSeconds: Long, pipelineUuid: Option[String],
              maxRecords: Int): Seq[LifecycleEvent] = {
    val cutoffMs = now.getTime - sinceSeconds * 1000L
    val (rows, covered) = synchronized((held, covers(cutoffMs)))
    if (covered) EventLog.historyRows(rows, cutoffMs, pipelineUuid, maxRecords)
    else EventLog.history(get(), now, sinceSeconds, pipelineUuid, maxRecords = maxRecords)
      .as[LifecycleEvent](enc).collect().toSeq
  }

  /** The MQ replay probe: an id logged at or after `cutoffMs` was
    * already applied. */
  def seenSince(id: Long, cutoffMs: Long): Boolean =
    synchronized(stampOf.get(id).exists(_ >= cutoffMs))

  private def index(ids: Seq[(Long, Long)]): Unit = {
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

  /** Drop the compacted events outside the window; the floor rises over
    * the stamped ones. */
  private def trim(): Unit = {
    val keepFrom = newestMs - keepSeconds * 1000L
    def old(e: LifecycleEvent) = e.received_time == null || e.received_time.getTime < keepFrom
    if (held.iterator.take(inHistory).exists(old)) {
      val (gone, kept) = held.take(inHistory).partition(old)
      gone.collect { case e if e.received_time != null => e.received_time.getTime }.maxOption
        .foreach(ms => floorMs = math.max(floorMs, ms))
      held = kept ++ held.drop(inHistory)
      inHistory = kept.size
    }
  }
}
