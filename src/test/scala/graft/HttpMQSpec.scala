package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.sources.mq.{HttpMQ, HttpMQPartition, HttpMQStream, SpoolMQ, SpoolOffset}

/** Drives the NETWORK MQ source ([[graft.sources.mq.HttpMQ]]) against an
  * in-process JDK HttpServer speaking its wire protocol — a real loopback
  * socket on both sides, so the transport the reference's SQS poller uses
  * (`mq_poller.py:16-30`) is exercised end-to-end: driver tail polls,
  * executor range fetches, engine-checkpointed offsets across restarts. */
class HttpMQSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

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

  test("batch range splits into <=8 contiguous executor partitions, none empty") {
    val parts = new HttpMQStream("http://unused/q")
      .planInputPartitions(SpoolOffset(5), SpoolOffset(25))
      .map(_.asInstanceOf[HttpMQPartition])
    // ceil-step slicing: 20 messages / step ceil(20/8)=3 → 7 ranges, ≤8 always
    assert(parts.length > 1 && parts.length <= 8)
    assert(parts.head.from == 5 && parts.last.to == 25)
    parts.sliding(2).foreach { case Array(a, c) =>
      assert(a.to == c.from, "ranges must tile [start, end) with no gap/overlap")
    }
    assert(parts.forall(p => p.from < p.to))
    // small batches: one partition per message, never an empty range
    assert(new HttpMQStream("http://unused/q")
      .planInputPartitions(SpoolOffset(0), SpoolOffset(3)).length == 3)
    assert(new HttpMQStream("http://unused/q")
      .planInputPartitions(SpoolOffset(7), SpoolOffset(7)).isEmpty)
  }

  test("streaming read: Kafka schema, checkpointed offsets resume past consumed messages") {
    val b = new MQBroker
    val out = SparkSuite.tempDir("hmq-out")
    val ckpt = SparkSuite.tempDir("hmq-ckpt")
    try {
      b.publish("m0"); b.publish("m1"); b.publish("m2")

      val stream = spark.readStream.format("http-mq").option("endpoint", b.endpoint).load()
      assert(stream.schema == SpoolMQ.schema, "http-mq must surface the shared Kafka schema")

      def runOnce(): Unit = {
        val q = spark.readStream.format("http-mq").option("endpoint", b.endpoint).load()
          .select(col("offset"), col("value").cast("string").as("body"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000), "http-mq stream did not finish in 120s")
        q.stop()
      }
      runOnce()
      def consumed(): Seq[(Long, String)] =
        spark.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(consumed() == Seq((0L, "m0"), (1L, "m1"), (2L, "m2")))

      // restart from checkpoint: only the two NEW messages are read —
      // exactly-once per offset, the property the reference's
      // delete-at-most-one-per-poll SQS loop lacks
      b.publish("m3"); b.publish("m4")
      runOnce()
      assert(consumed() ==
        Seq((0L, "m0"), (1L, "m1"), (2L, "m2"), (3L, "m3"), (4L, "m4")),
        "each offset must be consumed exactly once across restarts")
    } finally b.stop()
  }
}
