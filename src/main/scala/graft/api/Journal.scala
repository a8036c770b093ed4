package graft.api

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileSystem, Path, StreamCapabilities}

import graft.model.{LifecycleEvent, Submission}
import graft.orchestration.{Catalog, Cron}
import graft.orchestration.Dispatcher.IncubRow

/** The service's durable state: one append-only journal of JSON lines
  * under `<root>/journal`, written through the service's [[JsonCodec]]
  * and hsync'd before a step's runs are submitted and before its ack —
  * the reference's one Mongo write per event and per incubation change
  * (`data_provider.py:21-24`).
  *
  * One [[Journal.Record]] per ingest step holds the accepted events, the
  * incubation delta (rows added, obj_ids removed) and the step's
  * submissions, its outbox; an MQ batch's record also holds the batch's
  * end offset, so the offset commits with the batch's effects in one
  * write. A catalog mutation (D5–D7) is a record of its own, holding the
  * [[Catalog.Change]]; the first one a root holds, like every snapshot,
  * holds the whole catalog, so from then on the journal's catalog is
  * the service's. An outbox entry stays open until a later
  * record holds a terminal event (`success`/`failure`) for its
  * exec_uuid or closes it (an abort, or a run the engines report ended
  * without a callback). A record that would hold nothing is not written.
  * The journal keeps the state its records add up to: the incubation
  * rows, the open outbox, the high-water cron minute, the MQ offset and
  * the catalog (none until a record holds one).
  *
  * Each incarnation writes its own segments (`seg-<n>.jsonl`), created
  * on the first write and never appended to after a restart. [[roll]]
  * closes the open one and cuts the state; [[snapshot]] writes the cut
  * as one record (`snapshot-<n>.json`, whose replay onto the empty state
  * gives the state through segment `n`) and deletes the cut's segments.
  * [[restore]] loads the newest snapshot and replays the later segments
  * in order. A segment's last line may be torn by a write that never
  * returned, and is skipped; a bad line before it fails the restore.
  *
  * Segments and snapshots go through the raw FS for `file:` paths: the
  * checksummed local FS's streams do not hsync (their `hsync()` only
  * flushes), so a segment whose stream lacks the capability is refused.
  * A snapshot's rename is forced to the disk (for `file:`, see
  * [[Journal.force]]) before the segments it replaces are deleted.
  */
final class Journal(root: String, conf: Configuration, codec: JsonCodec,
                    fault: String => Unit = _ => ()) {
  import Journal._

  private val dir = new Path(root, "journal")
  private val fs: FileSystem = dir.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  // the state as of the last record
  private var rows = Vector.empty[IncubRow]
  private val outbox = mutable.LinkedHashMap.empty[String, Submission]
  private var cronMinute = -1L
  private var offset = Option.empty[Long]
  private var cat = Option.empty[Catalog]

  private val segments = mutable.SortedSet.empty[Long] // on disk, not yet snapshotted
  private var snapshots = Seq.empty[Long]
  private var nextSeg = 1L
  private var out: FSDataOutputStream = _ // the open segment, if any

  /** The one probe a start on a fresh root makes. */
  def exists: Boolean = fs.exists(dir)

  /** The open outbox entries, oldest first. */
  def open: Seq[Submission] = synchronized(outbox.values.toSeq)

  /** The incubation rows the records add up to. */
  def incubating: Vector[IncubRow] = synchronized(rows)

  /** The high-water cron minute the records hold (-1: none). */
  def cron: Long = synchronized(cronMinute)

  /** The MQ offset the records hold: every message below it is applied. */
  def mqOffset: Option[Long] = synchronized(offset)

  /** The catalog the records add up to; None when none holds one. */
  def catalog: Option[Catalog] = synchronized(cat)

  /** Rebuild the state from the newest snapshot and the segments after
    * it. Returns each replayed segment's events, in order. */
  def restore(): Seq[(Long, Seq[LifecycleEvent])] = synchronized {
    val names = fs.listStatus(dir).map(_.getPath.getName).toSeq
    def numbered(prefix: String, suffix: String): Seq[Long] = names.collect {
      case n if n.startsWith(prefix) && n.endsWith(suffix) &&
          n.drop(prefix.length).dropRight(suffix.length).forall(_.isDigit) =>
        n.drop(prefix.length).dropRight(suffix.length).toLong
    }.sorted
    snapshots = numbered("snapshot-", ".json")
    val through = snapshots.lastOption.getOrElse(0L)
    snapshots.lastOption.foreach(n => lines(snapshotPath(n)).headOption.foreach(l => apply(codec.record(l))))
    segments ++= numbered("seg-", ".jsonl")
    nextSeg = (segments.lastOption.getOrElse(0L) max through) + 1
    segments.toSeq.filter(_ > through).map { n =>
      val rs = records(n)
      rs.foreach(apply)
      n -> rs.flatMap(_.events)
    }
  }

  /** Make one step durable: its events, the incubation rows it leaves,
    * its submissions, the outbox entries it closes, for an MQ batch its
    * end offset and, for a catalog mutation, the catalog it leaves and
    * the change that made it (the whole catalog while the journal holds
    * none). Writes nothing when the record would be empty. */
  def commit(events: Seq[LifecycleEvent], next: Seq[IncubRow], submissions: Seq[Submission],
             closed: Seq[String] = Nil, mqOffset: Option[Long] = None,
             catalog: Option[(Catalog, Catalog.Change)] = None): Unit = synchronized {
    val gone = rows.diff(next)
    val r = Record(events, next.diff(rows), gone.map(_.obj_id), submissions,
      closed.filter(outbox.contains), events.flatMap(Cron.minuteOf).maxOption, mqOffset,
      catalog.map { case (c, change) => if (cat.isEmpty) Catalog.Change.whole(c) else change })
    if (r != Record()) {
      append(codec.line(r))
      apply(r)
    }
  }

  /** Close the open segment and cut the state it leaves; None when
    * there is nothing to compact. */
  def roll(): Option[Cut] = synchronized {
    closeSegment()
    if (segments.isEmpty) None
    else Some(Cut(segments.toSeq, Record(added = rows, outbox = outbox.values.toSeq,
      cron_minute = Some(cronMinute).filter(_ >= 0), mq_offset = offset,
      catalog = cat.map(Catalog.Change.whole))))
  }

  /** The events a closed segment holds. */
  def events(seg: Long): Seq[LifecycleEvent] = records(seg).flatMap(_.events)

  /** Write the cut as the newest snapshot (atomically: a temp file
    * renamed into place), then delete the older snapshots and the cut's
    * segments. A cut the newest snapshot already covers (left by a crash
    * before its deletes) only deletes. */
  def snapshot(cut: Cut): Unit = {
    if (!snapshots.lastOption.exists(_ >= cut.through)) writeSnapshot(cut)
    synchronized {
      snapshots.filter(_ < cut.through).foreach(n => fs.delete(snapshotPath(n), false))
      cut.segments.foreach(n => fs.delete(segPath(n), false))
      snapshots = (snapshots.filter(_ >= cut.through) :+ cut.through).distinct
      segments --= cut.segments
    }
  }

  private def writeSnapshot(cut: Cut): Unit = {
    val target = snapshotPath(cut.through)
    val tmp = new Path(dir, s"${target.getName}.tmp")
    val o = fs.create(tmp, true)
    try {
      requireHsync(o, tmp)
      o.write((codec.line(cut.state) + "\n").getBytes(UTF_8))
      o.hsync()
    } finally o.close()
    if (!fs.rename(tmp, target)) throw new java.io.IOException(s"could not rename $tmp to $target")
    force(fs, dir)
    fault("mid-compaction:snapshot")
  }

  /** Close the open segment; the next write opens a new one. */
  def close(): Unit = synchronized(closeSegment())

  // ---- internals -----------------------------------------------------------

  private def apply(r: Record): Unit = {
    // a row added again replaces itself: a record whose write reached the
    // disk but whose hsync threw is committed once more by the retried
    // step, and a restore replays both
    val replaced = (r.removed ++ r.added.map(_.obj_id)).toSet
    rows = rows.filterNot(x => replaced(x.obj_id)) ++ r.added
    r.events.foreach { e =>
      if (e.exec_uuid != null && (e.event_subtype == "success" || e.event_subtype == "failure"))
        outbox.remove(e.exec_uuid)
    }
    r.closed.foreach(outbox.remove)
    r.outbox.foreach(s => outbox(s.exec_uuid) = s)
    r.cron_minute.foreach(m => cronMinute = math.max(cronMinute, m))
    r.mq_offset.foreach(o => offset = Some(offset.fold(o)(math.max(_, o))))
    r.catalog.foreach(c => cat = Some(cat.getOrElse(Catalog(Nil, Nil)).replay(c)))
  }

  private def append(line: String): Unit = {
    if (out == null) {
      val p = segPath(nextSeg)
      val o = fs.create(p, false)
      requireHsync(o, p)
      segments += nextSeg
      nextSeg += 1
      out = o
    }
    try {
      out.write((line + "\n").getBytes(UTF_8))
      out.hsync()
    } catch {
      // a failed write may leave a torn line: later records go to a new
      // segment, so the torn one stays its segment's last
      case e: Throwable => closeSegment(); throw e
    }
  }

  private def closeSegment(): Unit =
    if (out != null) {
      try out.close() catch { case scala.util.control.NonFatal(_) => () }
      out = null
    }

  /** A segment's records; a torn last line is skipped. */
  private def records(seg: Long): Seq[Record] = {
    val ls = lines(segPath(seg))
    ls.zipWithIndex.flatMap { case (l, i) =>
      try Some(codec.record(l))
      catch { case _: IllegalArgumentException if i == ls.size - 1 => None }
    }
  }

  private def lines(p: Path): Seq[String] = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8).split('\n').toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  private def segPath(n: Long) = new Path(dir, s"${segmentName(n)}.jsonl")
  private def snapshotPath(n: Long) = new Path(dir, f"snapshot-$n%012d.json")
}

object Journal {

  /** One journal line. A snapshot is a record too: its replay onto the
    * empty state gives the state it was cut from. */
  final case class Record(
      events: Seq[LifecycleEvent] = Nil,
      added: Seq[IncubRow] = Nil,
      removed: Seq[String] = Nil,
      outbox: Seq[Submission] = Nil,
      closed: Seq[String] = Nil,
      cron_minute: Option[Long] = None,
      mq_offset: Option[Long] = None,
      catalog: Option[Catalog.Change] = None)

  /** Closed segments and the state they add up to. */
  final case class Cut(segments: Seq[Long], state: Record) {
    def through: Long = segments.max
  }

  /** Segment `n`'s file name, without its extension: its journal file
    * and its parquet history file share it. */
  def segmentName(n: Long): String = f"seg-$n%012d"

  /** Force a `file:` path, a file or a directory (its entries: a rename
    * into it), to the disk. Other filesystems keep their own close and
    * rename guarantees; a stream's hsync does not cover a rename. */
  private[graft] def force(fs: FileSystem, p: Path): Unit =
    if (fs.getUri.getScheme == "file") {
      val ch = FileChannel.open(Paths.get(fs.makeQualified(p).toUri), StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    }

  /** Refuse a stream whose `hsync()` would not reach the disk. */
  private[graft] def requireHsync(out: FSDataOutputStream, p: Path): Unit =
    if (!out.hasCapability(StreamCapabilities.HSYNC)) {
      out.close()
      throw new IllegalStateException(
        s"journal file $p is on a stream without hsync (${out.getWrappedStream.getClass.getName}): " +
          "its records could be acknowledged without reaching the disk")
    }
}
