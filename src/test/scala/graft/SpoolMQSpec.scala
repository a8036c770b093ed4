package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The Kafka-shaped `spool-mq` source (one file per message, offsets
  * by file order) and the event-ingest parse every MQ batch goes
  * through: schema, checkpointed resume, admission control, the rewind
  * guard, and quarantine of events missing a dispatch key. */
class SpoolMQSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def ev(id: Long, subtype: String, pipeline: String): String =
    s"""{"event_id": $id, "event_type": "job_exec_update", "event_subtype": "$subtype",
        "pipeline_uuid": "$pipeline", "exec_uuid": "exec-$id",
        "event_time": "2024-01-31T23:0${id % 10}:00Z", "received_time": "2024-01-31T23:0${id % 10}:05Z",
        "retry_count": 0, "disable_downstream": false}""".replaceAll("\n\\s*", " ")

  test("streaming read: checkpointed spool offsets resume past consumed messages") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val spool = SparkSuite.tempDir("mq-resume-spool")
    val out = SparkSuite.tempDir("mq-resume-out")
    val ckpt = SparkSuite.tempDir("mq-resume-ckpt")
    def publish(i: Int): Unit =
      Files.writeString(java.nio.file.Path.of(spool, f"m$i%03d.txt"), s"m$i")
    (0 until 3).foreach(publish)

    def runOnce(): Unit = {
      val q = spark.readStream.format("spool-mq").load(spool)
        .select(col("offset"), col("value").cast("string").as("body"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "spool-mq stream did not finish in 120s")
      q.stop()
    }
    def consumed(): Seq[(Long, String)] =
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    runOnce()
    assert(consumed() == Seq((0L, "m0"), (1L, "m1"), (2L, "m2")))

    // restart from checkpoint: only the two NEW messages are read
    (3 until 5).foreach(publish)
    runOnce()
    assert(consumed() ==
      Seq((0L, "m0"), (1L, "m1"), (2L, "m2"), (3L, "m3"), (4L, "m4")),
      "each offset must be consumed exactly once across restarts")
  }

  test("spool-mq surfaces the Kafka source schema with per-message offsets") {
    import org.apache.spark.sql.functions.col
    val spool = SparkSuite.tempDir("gs-mq-schema")
    Seq("alpha", "beta", "gamma").zipWithIndex.foreach { case (m, i) =>
      Files.writeString(java.nio.file.Path.of(spool, s"m$i.txt"), m)
    }
    // batch read path (backfill); same schema as spark-sql-kafka
    val df = spark.read.format("spool-mq").load(spool)
    assert(df.schema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))
    val rows = df.select(col("offset"), col("value").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")))
  }

  test("spool-mq admission control: a backlog drains in maxPerTrigger-sized batches (r10 review)") {
    import org.apache.spark.sql.streaming.Trigger
    val spool = SparkSuite.tempDir("gs-mq-cap")
    (0 until 25).foreach { i =>
      Files.writeString(java.nio.file.Path.of(spool, f"m$i%03d.txt"), s"msg-$i")
    }
    // 25 backlogged messages, cap 10: the old plain MicroBatchStream
    // admitted all 25 in one batch regardless of any limit; with
    // SupportsAdmissionControl the checkpointed end offset advances by
    // <= 10 per trigger and AvailableNow drains the rest incrementally
    val q = spark.readStream.format("spool-mq").option("maxPerTrigger", "10").load(spool)
      .writeStream.format("memory").queryName("mq_cap")
      .option("checkpointLocation", SparkSuite.tempDir("gs-mq-cap-ck"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "capped drain did not finish")
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    q.stop()
    assert(spark.table("mq_cap").count() == 25, "every backlogged message must arrive")
    assert(batches.forall(_ <= 10), s"a batch exceeded the cap: $batches")
    assert(batches.length >= 3, s"expected >= 3 capped batches, got $batches")
  }

  test("ingest defaults optional fields and quarantines only missing dispatch keys (r12 review + r12 advice)") {
    // well-formed JSON, MISSING primitives. The reference protocol (runtime_models.py:11-12)
    // declares retry_count/disable_downstream OPTIONAL with defaults
    // (0 / false) — a spec-compliant producer omits them, so the good
    // side must COALESCE them (r12 ADVICE: the first fix quarantined
    // these, silently halting dispatch for conforming clients). Pre-fix
    // the null primitives either crashed .as[LifecycleEvent] on every
    // replay (a permanent poison loop past a checkpointed offset) or,
    // for disable_downstream, silently suppressed the success fan-out.
    val missingRetry = """{"event_id": 40, "event_type": "job_exec_update",
      "event_subtype": "origination", "pipeline_uuid": "p", "exec_uuid": "e",
      "event_time": "2024-01-31T23:00:00Z", "received_time": "2024-01-31T23:00:05Z",
      "disable_downstream": false}""".replaceAll("\n\\s*", " ")
    val missingDd = """{"event_id": 41, "event_type": "job_exec_update",
      "event_subtype": "success", "pipeline_uuid": "p", "exec_uuid": "e",
      "event_time": "2024-01-31T23:00:00Z", "received_time": "2024-01-31T23:00:05Z",
      "retry_count": 0}""".replaceAll("\n\\s*", " ")
    val missingPipeline = """{"event_id": 42, "event_type": "job_exec_update",
      "event_subtype": "success", "exec_uuid": "e",
      "event_time": "2024-01-31T23:00:00Z", "received_time": "2024-01-31T23:00:05Z",
      "retry_count": 0, "disable_downstream": false}""".replaceAll("\n\\s*", " ")
    val goodLine = ev(43, "origination", "ok-pipeline")
    val (decoded, rejected) = graft.api.JsonCodec.forSession(spark)
      .messages(Seq(missingRetry, missingDd, missingPipeline, goodLine))
    // good side: the complete event AND the two defaultable omissions,
    // all DESERIALIZING (the poison vector was exactly this collect
    // throwing on null primitive slots) with reference defaults applied
    val good = decoded.sortBy(_.event_id)
    assert(good.map(_.event_id).toSeq == Seq(40L, 41L, 43L), s"good side: ${good.toSeq}")
    val byId = good.map(e => e.event_id -> e).toMap
    assert(byId(40L).retry_count == 0 && !byId(40L).disable_downstream,
      "omitted retry_count must default to 0 (runtime_models.py:11)")
    assert(byId(41L).retry_count == 0 && !byId(41L).disable_downstream,
      "omitted disable_downstream must default to false (runtime_models.py:12)")
    // quarantine side: only the line missing a genuine dispatch key
    val bad = rejected.toSet
    assert(bad == Set(missingPipeline), s"quarantine: $bad")
  }

  test("spool rewind guard: removing consumed files under a live checkpoint fails loudly, not silently remapped (r12 review)") {
    import java.nio.file.{Files => JFiles, Path}
    val dir = SparkSuite.tempDir("gs-mq-rewind")
    (0 until 5).foreach(i => JFiles.writeString(Path.of(dir, f"m$i%03d.json"), s"body-$i"))
    val stream = new graft.sources.mq.SpoolMQStream(dir)
    // checkpoint says 5 consumed; 2 files were archived out from under it
    JFiles.delete(Path.of(dir, "m000.json")); JFiles.delete(Path.of(dir, "m001.json"))
    val e1 = intercept[IllegalStateException] {
      stream.latestOffset(graft.sources.mq.SpoolOffset(5L),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(100))
    }
    assert(e1.getMessage.contains("removed under a live checkpoint"))
    // the slicer itself refuses too (covers the batch-read path)
    val e2 = intercept[IllegalStateException] {
      graft.sources.mq.SpoolMQStream.partitions(dir, 5L, 7L)
    }
    assert(e2.getMessage.contains("removed under a live checkpoint"))
    // an intact spool still slices fine past the guard
    assert(graft.sources.mq.SpoolMQStream.partitions(dir, 1L, 3L).nonEmpty)
  }
}
