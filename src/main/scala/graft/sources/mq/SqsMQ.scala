package graft.sources.mq

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** SQS adapter seam (r14 verdict #8): everything between the public
  * AWS SQS semantics and the [[MQClient]] contract, with the
  * network-touching client behind ONE constructor-injected interface.
  * The reference polls live SQS (`mq_poller.py:16-30`); implement
  * [[SqsClientApi]] over the SDK's `SqsClient` (receiveMessage /
  * deleteMessageBatch on a queue URL) and [[SqsBridge]] passes the
  * `MQSourceContract` suite unchanged — the suite runs against an
  * in-memory fake with real SQS semantics (visibility timeout,
  * receipt-handle invalidation, at-least-once redelivery).
  *
  * WHY A RECEIVE-SPOOL BRIDGE: a replay from a committed offset needs
  * offset-ADDRESSED reads, and SQS's receive() is a one-shot lease with
  * no stable position. So the bridge pumps receives into a local spool
  * (one file per message, DENSE arrival-order offsets = filename order),
  * dedups redeliveries by messageId onto their original offset, and
  * serves range reads from the spool. `commit(end)` deletes from the
  * QUEUE only messages at offsets < end (never per-receive, unlike the
  * reference's delete-at-most-one-per-poll loop); the spool keeps them.
  * A stale receipt handle fails its delete, SQS redelivers, and the
  * bridge dedups the redelivery onto its committed offset.
  *
  * OPERATOR CONTRACT: offsets are listing POSITIONS, so
  * spool files must NOT be removed under a committed offset; the
  * detectable case (listing shorter than the offset) fails loudly.
  */
object SqsMQ {
  /** SQS `Message` fields the bridge consumes — mirrors the SDK's
    * public shape (MessageId / ReceiptHandle / Body / SentTimestamp). */
  final case class SqsMessage(messageId: String, receiptHandle: String,
                              body: Array[Byte], sentEpochMillis: Long)

  /** The injection seam: the two queue verbs the bridge needs, with
    * SQS's documented semantics. A live adapter wraps the SDK client +
    * queue URL; the contract suite wraps an in-memory queue.
    *
    *  - `receive(max)`: up to `max` VISIBLE messages; each received
    *    message becomes invisible for the queue's visibility timeout
    *    and carries a fresh single-use receipt handle. An empty result
    *    means no visible messages NOW (the long-poll returned dry).
    *  - `deleteBatch(handles)`: best-effort batch delete; entries with
    *    stale handles fail silently (SQS returns them in `Failed`; the
    *    message redelivers after its visibility timeout). */
  trait SqsClientApi {
    def receive(maxMessages: Int): Seq[SqsMessage]
    def deleteBatch(receiptHandles: Seq[String]): Unit
  }

  def fileNameFor(offset: Long, messageId: String): String =
    f"m$offset%012d_" + java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(messageId.getBytes(StandardCharsets.UTF_8))
  def messageIdOf(fileName: String): Option[String] =
    fileName.split("_", 2) match {
      case Array(_, b64) => scala.util.Try(new String(
        java.util.Base64.getUrlDecoder.decode(b64), StandardCharsets.UTF_8)).toOption
      case _ => None
    }

  /** The spool's messages in offset order (filename sort). Dot- and
    * underscore-prefixed files are not messages (a half-written one is
    * a dot-file until its rename).
    *
    * A directory that EXISTS but fails to list (transient I/O error,
    * NFS blip — `listFiles` returns null for both) FAILS LOUDLY
    * instead of reading as an empty queue (that reading rewinds the tail
    * to 0, and when the mount recovers the whole spool replays). A NOT-YET-CREATED spool dir is an empty
    * queue (the pre-producer grace). */
  def listSpool(dir: String): Array[File] = {
    val d = new File(dir)
    Option(d.listFiles()) match {
      case Some(fs) =>
        fs.filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .sortBy(_.getName)
      case None if !d.exists() => Array.empty
      case None =>
        throw new java.io.IOException(
          s"spool dir $dir exists but cannot be listed - failing the read " +
            "rather than reading it as an empty queue (offset rewind)")
    }
  }
}

/** The pump/dedup/ack state machine between an [[SqsMQ.SqsClientApi]]
  * and a spool dir, as an [[MQClient]]. Restart-safe: the
  * messageId→offset map is rebuilt from the spool filenames, so a bridge
  * that crashed after spooling but before commit maps the broker's
  * redeliveries onto the offsets already spooled. */
final class SqsBridge(client: SqsMQ.SqsClientApi, val spoolDir: String,
                      receiveBatch: Int = 10) extends MQClient {
  import SqsMQ._

  // offset -> latest receipt handle for not-yet-acked messages; handles
  // refresh on every redelivery (the previous one is void by then)
  private val handles = scala.collection.mutable.LongMap.empty[String]
  private val idToOffset = scala.collection.mutable.HashMap.empty[String, Long]
  private var nextOffset = 0L
  // rebuild from the spool: offsets are dense filename positions
  listSpool(spoolDir).zipWithIndex.foreach { case (f, i) =>
    messageIdOf(f.getName).foreach(id => idToOffset(id) = i.toLong)
    nextOffset = i + 1L
  }

  /** Drain what is visible right now into the spool, stopping once
    * `max` messages were received (a queue that is never empty must not
    * hold the caller forever); returns the spool tail. Dedup by
    * messageId: a redelivered message refreshes its receipt handle but
    * keeps its original offset and is NOT rewritten (the spooled bytes
    * are the replay truth). */
  def pump(max: Long = MQClient.MaxBatch): Long = synchronized {
    var received = 0L
    var batch = client.receive(receiveBatch)
    while (batch.nonEmpty) {
      received += batch.size
      batch.foreach { m =>
        idToOffset.get(m.messageId) match {
          case Some(off) => handles(off) = m.receiptHandle // redelivery
          case None =>
            val off = nextOffset
            val name = fileNameFor(off, m.messageId)
            // tmp-prefix + atomic rename: listSpool skips dot-files, so
            // a half-written message is never listed
            val tmp = Path.of(spoolDir, "." + name)
            Files.createDirectories(Path.of(spoolDir))
            Files.write(tmp, m.body)
            Files.move(tmp, Path.of(spoolDir, name),
              StandardCopyOption.ATOMIC_MOVE)
            idToOffset(m.messageId) = off
            handles(off) = m.receiptHandle
            nextOffset = off + 1
        }
      }
      batch = if (batch.size < receiveBatch || received >= max) Seq.empty
              else client.receive(receiveBatch)
    }
    nextOffset
  }

  /** Destructive upstream ack for offsets < `end`, in SQS's batch-of-10
    * chunks. Best-effort: stale handles fail inside the client and the
    * redelivery dedups back onto its (already committed) offset. */
  def commit(end: Long): Unit = synchronized {
    val acked = handles.keys.filter(_ < end).toSeq.sorted
    acked.grouped(10).foreach(chunk => client.deleteBatch(chunk.map(handles)))
    acked.foreach(handles.remove)
  }

  // pump first, then report the LISTING as the tail — the listing is
  // the offset→message truth (the rewind guard must see a spool that
  // shrank under a committed offset; the bridge's in-memory counter
  // cannot shrink)
  def tail: Long = {
    pump()
    listSpool(spoolDir).length.toLong
  }

  /** SQS's receive takes no wait here: answers at once. */
  def awaitTail(after: Long, waitMs: Long): Long = tail

  def read(from: Long, to: Long): Seq[(Long, Long, Array[Byte])] = {
    // pump first when the spool is short: a replay of a committed range
    // with no prior tail probe must still find it (pump is idempotent
    // via the messageId dedup)
    val listed = listSpool(spoolDir)
    val files = if (listed.length < to) { pump(); listSpool(spoolDir) } else listed
    if (from > files.length)
      throw new IllegalStateException(
        s"spool listing has ${files.length} messages but the committed offset is $from - " +
          "spool files were removed under a live checkpoint, which remaps " +
          "offset->message; restore them or reset the offset")
    files.zipWithIndex.slice(from.toInt, math.min(to, files.length.toLong).toInt).map {
      case (f, i) => (i.toLong, f.lastModified(), Files.readAllBytes(f.toPath))
    }.toSeq
  }
}
