package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spool the SQS bridge reads from (one file per message, offsets
  * by file order) and the decode every MQ batch goes through: the
  * rewind guard, and quarantine of events missing a dispatch key. */
class SpoolMQSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def ev(id: Long, subtype: String, pipeline: String): String =
    s"""{"event_id": $id, "event_type": "job_exec_update", "event_subtype": "$subtype",
        "pipeline_uuid": "$pipeline", "exec_uuid": "exec-$id",
        "event_time": "2024-01-31T23:0${id % 10}:00Z", "received_time": "2024-01-31T23:0${id % 10}:05Z",
        "retry_count": 0, "disable_downstream": false}""".replaceAll("\n\\s*", " ")

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
    val spool = new graft.sources.mq.SqsBridge(new FakeSqsQueue().client, dir)
    // the journal says 5 consumed; 2 files were archived out from under it
    JFiles.delete(Path.of(dir, "m000.json")); JFiles.delete(Path.of(dir, "m001.json"))
    val e1 = intercept[IllegalStateException] {
      spool.batchEnd(5L, waitMs = 0L)
    }
    assert(e1.getMessage.contains("removed under a live checkpoint"))
    // the range read itself refuses too (covers a replay with no tail probe)
    val e2 = intercept[IllegalStateException] {
      spool.read(5L, 7L)
    }
    assert(e2.getMessage.contains("removed under a live checkpoint"))
    // an intact range still reads fine past the guard
    assert(spool.read(1L, 3L).nonEmpty)
  }
}
