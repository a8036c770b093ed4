package graft

import java.nio.charset.StandardCharsets
import java.time.ZoneId

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{JsonCodec, Journal}
import graft.sources.mq.{HttpMQ, MQClient}

/** THE transport-independent MQ contract: the behavioral surface a
  * REAL broker adapter (SQS, Kafka, Pub/Sub) must pass unchanged
  * before the service can poll it. The reference's transport is live
  * SQS (`mq_poller.py:16-30`); the suite needs no network, so the
  * deliverable is the seam — one abstract suite, every law written
  * against [[MQClient]] only, the calls the service's poll loop makes
  * (`batchEnd`, `read`, `commit`), driven below through the shipped
  * transports (loopback HTTP, the SQS bridge, and the bridge's spool
  * written by a producer directly).
  *
  * Laws (each a test):
  *  1. offset monotonicity — offsets are counts that never decrease
  *     while the transport only grows, and round-trip through the
  *     journal line that commits them.
  *  2. batch cap — no single batch passes the cap; a backlog drains
  *     across several capped batches, losslessly.
  *  4. at-least-once, non-destructive ack — a committed range replays
  *     byte-identical (commit must not destroy replayability; SQS's
  *     per-message delete becomes "delete ≤ committed offset only").
  *  5. rewind refusal — a tail below the committed offset (messages
  *     removed under it) FAILS LOUDLY; silently remapping offsets would
  *     skip and/or re-deliver.
  *  6. visibility-timeout redelivery (r13 verdict #6) — a batch that
  *     was READ but never committed (crash before commit; SQS: the
  *     visibility timeout elapses on undeleted messages) reappears to
  *     a restarted client with IDENTICAL (offset, body) pairs — the
  *     offset is what the service journals, so redelivery must map onto
  *     the same offsets, never mint new ones, and an uncommitted read
  *     must not advance consumption state.
  *  7. out-of-order arrival within a batch (r13 verdict #6) — SQS
  *     standard queues order best-effort: offsets track BROKER-ARRIVAL
  *     order, not payload order, so a batch whose logical sequence
  *     numbers arrive shuffled still delivers every message exactly
  *     once on dense unique offsets, in arrival order — downstream
  *     ordering is the event-time columns' job, never the queue's.
  */
abstract class MQSourceContract extends AnyFunSuite {

  /** What an adapter provides: a publisher, an out-of-band remover
    * (the fault injector for law 5), and a client; each `client()` is a
    * new incarnation over the same queue. */
  trait Transport {
    def publish(body: String): Unit
    /** Remove the `n` OLDEST messages out-of-band (broker truncation /
      * spool file deletion under a committed offset). */
    def removeOldest(n: Int): Unit
    def client(): MQClient
  }

  def transportName: String
  def withTransport(body: Transport => Unit): Unit

  private def end(c: MQClient, from: Long, max: Long = MQClient.MaxBatch): Long =
    c.batchEnd(from, waitMs = 0L, max)
  /** Read [a, b) — (offset, utf8 body). */
  private def readRange(c: MQClient, a: Long, b: Long): Seq[(Long, String)] =
    c.read(a, b).map { case (off, _, body) => (off, new String(body, StandardCharsets.UTF_8)) }

  test(s"[$transportName] law 1: offsets are monotone counts and round-trip through json") {
    withTransport { t =>
      val c = t.client()
      assert(end(c, 0) == 0L, "a fresh queue holds no message")
      (0 until 5).foreach(i => t.publish(s"m$i"))
      val o1 = end(c, 0)
      assert(o1 == 5L, s"tail after 5 publishes must be 5, got $o1")
      (5 until 8).foreach(i => t.publish(s"m$i"))
      val o2 = end(c, o1)
      assert(o2 == 8L)
      assert(end(c, o2) == 8L,
        "an idle transport must hold the offset steady, never decrease")
      val codec = new JsonCodec(ZoneId.of("UTC"))
      assert(codec.record(codec.line(Journal.Record(mq_offset = Some(o2)))).mq_offset == Some(o2),
        "offset json round-trip through the journal line")
    }
  }

  test(s"[$transportName] law 2: no batch passes the admission cap; a backlog drains losslessly") {
    withTransport { t =>
      (0 until 25).foreach(i => t.publish(s"b$i"))
      val c = t.client()
      var startAt = 0L
      val batches = Iterator.continually {
        val e = end(c, startAt, max = 10L)
        val batch = (startAt, e); startAt = e; batch
      }.takeWhile { case (a, b) => b > a }.toSeq
      assert(batches.map { case (a, b) => b - a } == Seq(10L, 10L, 5L),
        s"25 backlogged messages under cap 10 must drain 10/10/5: $batches")
      val all = batches.flatMap { case (a, b) => readRange(c, a, b) }
      assert(all.map(_._2) == (0 until 25).map(i => s"b$i"),
        "the capped drain must deliver every message exactly once, in order")
    }
  }

  test(s"[$transportName] law 4: ack is non-destructive - a committed range replays byte-identical") {
    withTransport { t =>
      (0 until 4).foreach(i => t.publish(s"r$i"))
      val c = t.client()
      assert(end(c, 0) == 4L)
      val first = readRange(c, 0, 4)
      assert(first.map(_._2) == Seq("r0", "r1", "r2", "r3"))
      c.commit(4) // the service acks the batch
      val replay = readRange(c, 0, 4)
      assert(replay == first,
        "at-least-once: a committed range must stay replayable, byte-identical")
    }
  }

  test(s"[$transportName] law 6: an unacked batch redelivers with IDENTICAL offsets (visibility timeout)") {
    withTransport { t =>
      (0 until 3).foreach(i => t.publish(s"v$i"))
      val c = t.client()
      val e = end(c, 0)
      assert(e == 3L)
      // read but never committed — the incarnation dies before commit;
      // on SQS the visibility timeout elapses and the undeleted messages
      // become receivable again
      val firstRead = readRange(c, 0, e)
      assert(firstRead.map(_._2) == Seq("v0", "v1", "v2"))
      // a restarted incarnation polls from the JOURNALED start: the
      // messages must reappear — reading without committing must not
      // advance any server- or client-side consumption state
      val c2 = t.client()
      val e2 = end(c2, 0)
      assert(e2 == e, s"an unacked read must not advance consumption state: $e2")
      val redelivered = readRange(c2, 0, e2)
      assert(redelivered == firstRead,
        "redelivery must map onto the SAME (offset, body) pairs - the offset is the " +
        "downstream exactly-once dedup key; minting new offsets would double-deliver")
    }
  }

  test(s"[$transportName] law 7: out-of-order arrival inside a batch - dense offsets in ARRIVAL order") {
    withTransport { t =>
      // logical sequence numbers arrive shuffled (SQS standard-queue
      // best-effort ordering): arrival order is 3,0,4,1,5,2
      val arrival = Seq(3, 0, 4, 1, 5, 2)
      arrival.foreach(i => t.publish(s"seq-$i"))
      val c = t.client()
      val e = end(c, 0)
      assert(e == 6L)
      val batch = readRange(c, 0, e)
      assert(batch.map(_._1) == (0L until 6L),
        s"offsets must be dense and unique per arrival: ${batch.map(_._1)}")
      assert(batch.map(_._2) == arrival.map(i => s"seq-$i"),
        "delivery preserves BROKER-ARRIVAL order, exactly once each - the client " +
        "must not reorder by payload; event-time ordering is downstream's job")
    }
  }

  test(s"[$transportName] law 5: a tail rewind under a live checkpoint fails loudly") {
    withTransport { t =>
      (0 until 5).foreach(i => t.publish(s"w$i"))
      val c = t.client()
      assert(end(c, 0) == 5L) // committed: 5 consumed
      t.removeOldest(2) // broker truncation / spool archival under the offset
      val e = intercept[IllegalStateException] {
        end(c, 5L)
      }
      assert(e.getMessage.contains("removed under a live checkpoint"),
        s"rewind must refuse with the named cause, got: ${e.getMessage}")
    }
  }
}

/** The bridge's spool as a queue on its own: a producer writes one file
  * per message and the SQS queue stays empty, so every read is the
  * spool half of [[graft.sources.mq.SqsBridge]]. */
class SpoolMQContractSpec extends MQSourceContract {
  def transportName = "spool-mq"
  def withTransport(body: Transport => Unit): Unit = {
    val dir = SparkSuite.tempDir("mq-contract-spool")
    val q = new FakeSqsQueue()
    var n = 0
    body(new Transport {
      def publish(b: String): Unit = {
        java.nio.file.Files.writeString(
          java.nio.file.Path.of(dir, f"m$n%06d.json"), b)
        n += 1
      }
      def removeOldest(k: Int): Unit =
        graft.sources.mq.SqsMQ.listSpool(dir).take(k)
          .foreach(f => java.nio.file.Files.delete(f.toPath))
      def client() = new graft.sources.mq.SqsBridge(q.client, dir)
    })
  }
}

/** Loopback-HTTP transport (the network flavor) under the contract. */
class HttpMQContractSpec extends MQSourceContract {
  def transportName = "http-mq"
  def withTransport(body: Transport => Unit): Unit = {
    val broker = new MQBroker
    try body(new Transport {
      def publish(b: String): Unit = broker.publish(b)
      def removeOldest(k: Int): Unit = broker.removeOldest(k)
      def client() = new HttpMQ(broker.endpoint)
    }) finally broker.stop()
  }
}
