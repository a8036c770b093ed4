package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.mq.{SqsBridge, SqsMQ}

/** In-memory queue with REAL SQS semantics — the fake behind the
  * [[SqsMQ.SqsClientApi]] seam (r14 verdict #8): visibility-timeout
  * leases (a received message is invisible until the lease elapses),
  * fresh single-use receipt handles per receive (a stale handle's
  * delete fails silently, like SQS's `Failed` batch entries), arrival
  * order, at-least-once redelivery. The live adapter swaps this for
  * the AWS SDK client; nothing else changes. */
final class FakeSqsQueue(visibilityMillis: Long = 60000L) {
  import SqsMQ.SqsMessage
  private final class Entry(val id: String, val body: Array[Byte], val sent: Long) {
    var invisibleUntil = 0L
    var handle = ""
    var deleted = false
  }
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
  private var seq = 0

  def send(body: String): Unit = synchronized {
    entries += new Entry(s"mid-$seq", body.getBytes("UTF-8"), System.currentTimeMillis())
    seq += 1
  }
  val client: SqsMQ.SqsClientApi = new SqsMQ.SqsClientApi {
    def receive(max: Int): Seq[SqsMessage] = FakeSqsQueue.this.synchronized {
      val now = System.currentTimeMillis()
      entries.iterator.filter(e => !e.deleted && e.invisibleUntil <= now).take(max).map { e =>
        e.invisibleUntil = now + visibilityMillis
        e.handle = java.util.UUID.randomUUID().toString
        SqsMessage(e.id, e.handle, e.body, e.sent)
      }.toSeq
    }
    def deleteBatch(handles: Seq[String]): Unit = FakeSqsQueue.this.synchronized {
      handles.foreach(h =>
        entries.find(e => !e.deleted && e.handle == h).foreach(_.deleted = true))
    }
  }
  def undeletedCount: Int = synchronized { entries.count(!_.deleted) }
  /** Fault injector: elapse every outstanding visibility lease NOW. */
  def expireVisibility(): Unit = synchronized { entries.foreach(_.invisibleUntil = 0L) }
}

/** The SQS bridge under the transport contract — verbatim inheritance,
  * driven through the in-memory SQS-semantics fake; each client is a new
  * bridge over the same spool and queue. */
class SqsMQContractSpec extends MQSourceContract {
  def transportName = "sqs-bridge"
  def withTransport(body: Transport => Unit): Unit = {
    val dir = SparkSuite.tempDir("mq-contract-sqs")
    val q = new FakeSqsQueue()
    body(new Transport {
      def publish(b: String): Unit = q.send(b)
      def removeOldest(k: Int): Unit =
        SqsMQ.listSpool(dir).take(k).foreach(f => Files.delete(f.toPath))
      def client() = new SqsBridge(q.client, dir)
    })
  }
}

/** SQS-SPECIFIC behaviors past the generic contract: where the
  * destructive half of the queue lives, and how redelivery/restart
  * map back onto committed offsets. */
class SqsMQSpec extends AnyFunSuite {

  private def fixture() = {
    val dir = SparkSuite.tempDir("sqs-mq")
    val q = new FakeSqsQueue()
    (dir, q, new SqsBridge(q.client, dir))
  }

  test("commit deletes UPSTREAM exactly the committed prefix; the spool keeps replaying") {
    val (dir, q, bridge) = fixture()
    (0 until 5).foreach(i => q.send(s"d$i"))
    assert(bridge.batchEnd(0L, waitMs = 0L) == 5L)
    bridge.commit(3L)
    assert(q.undeletedCount == 2, "offsets 0,1,2 must be deleted from the queue, 3,4 kept")
    assert(SqsMQ.listSpool(dir).length == 5,
      "the spool is the replay truth - commit must not touch it")
  }

  test("visibility-expiry redelivery dedups onto the ORIGINAL offsets and refreshes handles") {
    val (dir, q, bridge) = fixture()
    (0 until 3).foreach(i => q.send(s"r$i"))
    assert(bridge.pump() == 3L)
    val namesBefore = SqsMQ.listSpool(dir).map(_.getName).toSeq
    // leases elapse (crash before commit); the broker re-serves all 3
    q.expireVisibility()
    assert(bridge.pump() == 3L, "redelivery must not mint new offsets")
    assert(SqsMQ.listSpool(dir).map(_.getName).toSeq == namesBefore,
      "redelivered messages must not be re-spooled")
    // the REFRESHED handles must still ack: the originals are void
    bridge.commit(3L)
    assert(q.undeletedCount == 0, "ack after redelivery must use the fresh receipt handles")
  }

  test("restart before commit: a NEW bridge over the same spool maps redelivery onto checkpointed offsets") {
    val (dir, q, bridge) = fixture()
    (0 until 4).foreach(i => q.send(s"c$i"))
    assert(bridge.pump() == 4L)
    val before = SqsMQ.listSpool(dir).map(_.getName).toSeq
    // incarnation dies before commit; a new bridge rebuilds id→offset
    // from the spool filenames and the broker redelivers everything
    q.expireVisibility()
    val bridge2 = new SqsBridge(q.client, dir)
    assert(bridge2.pump() == 4L, "rebuilt dedup map must absorb the redelivery")
    assert(SqsMQ.listSpool(dir).map(_.getName).toSeq == before)
    bridge2.commit(4L)
    assert(q.undeletedCount == 0)
  }

  test("stale receipt handle: delete is best-effort, redelivery stays behind the committed offset") {
    val (dir, q, bridge) = fixture()
    q.send("s0")
    assert(bridge.pump() == 1L)
    // the lease elapses BEFORE commit and the broker re-serves the
    // message to someone else (handle rotates); our stored handle is
    // now stale — but pump() hasn't run, so the bridge doesn't know
    q.expireVisibility()
    q.client.receive(10) // another consumer's receive rotates the handle
    bridge.commit(1L)   // stale-handle delete fails silently (SQS Failed entry)
    assert(q.undeletedCount == 1, "stale handle must NOT delete")
    // at-least-once closure: the redelivery dedups onto offset 0, the
    // consumer never reads it again (0 < committed), and the refreshed
    // handle lets the next commit cycle finally delete upstream
    q.expireVisibility()
    assert(bridge.pump() == 1L)
    bridge.commit(1L)
    assert(q.undeletedCount == 0)
  }

  test("spool filename codec round-trips messageIds") {
    val id = "AQEB/weird+chars=and-uuid-0123"
    val name = SqsMQ.fileNameFor(42L, id)
    assert(!name.contains("/") && !name.contains("+") && !name.contains("="),
      s"filename must be filesystem-safe: $name")
    assert(SqsMQ.messageIdOf(name).contains(id))
    assert(name.startsWith("m000000000042_"), "offset prefix keeps filename sort = offset order")
  }

  test("pump stops at the batch cap while the queue is never empty") {
    // every receive comes back full: the old drain looped until a receive
    // came back short, so a busy queue held the poll turn forever
    val dir = SparkSuite.tempDir("sqs-mq-full")
    val full = new SqsMQ.SqsClientApi {
      private var n = 0L
      def receive(max: Int): Seq[SqsMQ.SqsMessage] = synchronized {
        (0 until max).map { _ =>
          n += 1
          // 25 distinct messages, redelivered round and round
          SqsMQ.SqsMessage(s"mid-${n % 25}", s"h-$n", s"body-${n % 25}".getBytes("UTF-8"), 0L)
        }
      }
      def deleteBatch(handles: Seq[String]): Unit = ()
    }
    val bridge = new SqsBridge(full, dir)
    val tail = new java.util.concurrent.atomic.AtomicLong(-1L)
    val t = new Thread(() => tail.set(bridge.tail))
    t.setDaemon(true)
    t.start()
    t.join(60000L)
    assert(!t.isAlive, "pump did not return within 60 s on a queue that is never empty")
    assert(tail.get() == 25L, s"every distinct message spooled once: ${tail.get()}")
    assert(SqsMQ.listSpool(dir).length == 25)
  }
}
