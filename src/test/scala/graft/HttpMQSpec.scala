package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.mq.HttpMQ

/** Drives the NETWORK MQ client ([[graft.sources.mq.HttpMQ]]) against an
  * in-process JDK HttpServer speaking its wire protocol — a real loopback
  * socket on both sides, so the transport the reference's SQS poller uses
  * (`mq_poller.py:16-30`) is exercised end-to-end: tail polls, the
  * long-poll, range fetches. */
class HttpMQSpec extends AnyFunSuite {

  test("protocol round-trip: tail and executor-side range fetch over a real socket") {
    val b = new MQBroker
    try {
      assert(HttpMQ.tail(b.endpoint) == 0L)
      b.publish("alpha"); b.publish("beta"); b.publish("gamma")
      assert(HttpMQ.tail(b.endpoint) == 3L)
      val got = HttpMQ.fetch(b.endpoint, 1, 3)
        .map { case (off, _, body) => (off, new String(body, StandardCharsets.UTF_8)) }
      assert(got == Seq((1L, "beta"), (2L, "gamma")))
      assert(HttpMQ.fetch(b.endpoint, 3, 3).isEmpty)
    } finally b.stop()
  }

  test("long-poll: awaitTail answers as soon as a message arrives, and at the wait's end when none does") {
    val b = new MQBroker
    try {
      val mq = new HttpMQ(b.endpoint)
      b.publish("m0")
      assert(mq.awaitTail(0L, 10000L) == 1L, "a tail already past `after` answers at once")
      val t0 = System.nanoTime()
      assert(mq.awaitTail(1L, 300L) == 1L)
      val idleMs = (System.nanoTime() - t0) / 1000000L
      assert(idleMs >= 250L, s"an idle long-poll must wait out its wait: $idleMs ms")
      val publisher = new Thread(() => { Thread.sleep(200L); b.publish("m1") })
      publisher.start()
      val t1 = System.nanoTime()
      assert(mq.awaitTail(1L, 20000L) == 2L)
      val wokeMs = (System.nanoTime() - t1) / 1000000L
      assert(wokeMs < 10000L, s"a long-poll must return when a message arrives, took $wokeMs ms")
      publisher.join()
    } finally b.stop()
  }
}
