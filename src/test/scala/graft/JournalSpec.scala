package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.fs.{LocalFileSystem, Path, StreamCapabilities}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Auth, GraftApi, GraftService, Journal, SecuredGraftApi}
import graft.meta.Fixtures
import graft.model.{LifecycleEvent, RunningJob, Submission}
import graft.orchestration.{Catalog, EngineBackend, EngineJob, EngineManager}
import graft.orchestration.Dispatcher.IncubRow

/** The service's journal: real fsync, and crash consistency against the
  * pure dispatcher model.
  *
  * The crash spec drives seeded event sequences through a
  * [[GraftService]]'s ingress (MQ-style batches at dense offsets
  * through `ingestDedup`, culler ticks with their compaction). A fault
  * hook throws at each durable boundary; at each throw the service is
  * abandoned without shutdown, a new one starts on the same checkpoint
  * root, its restored offset must be the end of the last batch whose
  * record committed, and the interrupted tick is delivered again from
  * that offset, as the broker would.
  * The engine outlives the services, as K8s pods do, and starts each
  * exec_uuid once. The runs it started must be exactly the runs the
  * pure `Dispatcher` fold submits over the same sequence with no crash,
  * and the incubation rows must match the fold's after every tick: no
  * run lost, none duplicated, each incubation released or aged out once.
  */
class JournalSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("hsync: the checksummed local FS's stream cannot hsync; the journal's raw stream can; a segment without it is refused") {
    val dir = new Path(SparkSuite.tempDir("journal-hsync"))
    val local = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(local.isInstanceOf[LocalFileSystem], s"file: resolves to ${local.getClass}")
    val checked = local.create(new Path(dir, "checked"), true)
    try assert(!checked.hasCapability(StreamCapabilities.HSYNC),
      "the checksummed stream now reports hsync: revisit the raw-FS choice")
    finally checked.close()
    val raw = local.asInstanceOf[LocalFileSystem].getRawFileSystem.create(new Path(dir, "raw"), true)
    try assert(raw.hasCapability(StreamCapabilities.HSYNC))
    finally raw.close()
    // the journal's own segment, and the refusal of a stream without it
    val codec = graft.api.JsonCodec.forSession(spark)
    val journal = new Journal(dir.toString, spark.sessionState.newHadoopConf(), codec)
    journal.commit(Nil, Seq(IncubRow("p", "inc-1", new Timestamp(1000L), None, "concurrency", 0, Map.empty)), Nil)
    journal.close()
    assert(local.listStatus(new Path(dir, "journal")).exists(_.getPath.getName.endsWith(".jsonl")))
    val e = intercept[IllegalStateException](
      Journal.requireHsync(local.create(new Path(dir, "refused"), true), new Path(dir, "refused")))
    assert(e.getMessage.contains("without hsync"))
  }

  test("journal lines round-trip events, rows and submissions to the microsecond") {
    val codec = graft.api.JsonCodec.forSession(spark)
    val t = Timestamp.valueOf("2026-03-01 10:00:00.123456")
    val r = Journal.Record(
      events = Seq(LifecycleEvent(-5L, "job_exec_update", "success", "p", "exec-p-1", t, t, 2,
        disable_downstream = true)),
      added = Seq(IncubRow("p", "inc-1", t, Some("exec-0"), "dependencies", 1,
        Map("a" -> "waiting", "b" -> "exec-9"))),
      removed = Seq("inc-0"),
      outbox = Seq(Submission("p", "exec-p-2", Map("a" -> "exec-9"), 0)),
      closed = Seq("exec-p-0"),
      cron_minute = Some(29000000L),
      mq_offset = Some(100042L))
    assert(codec.record(codec.line(r)) == r)
    assert(codec.record(codec.line(Journal.Record())) == Journal.Record())
  }

  test("a record committed twice (its write reached the disk, its hsync threw) restores its rows once") {
    val codec = graft.api.JsonCodec.forSession(spark)
    val dir = new Path(SparkSuite.tempDir("journal-twice"))
    val conf = spark.sessionState.newHadoopConf()
    val row = IncubRow("p", "inc-7-a", new Timestamp(1000L), None, "dependencies", 0, Map("a" -> "exec-1"))
    val line = codec.line(Journal.Record(added = Seq(row)))
    val raw = dir.getFileSystem(conf).asInstanceOf[LocalFileSystem].getRawFileSystem
    val out = raw.create(new Path(dir, s"journal/${Journal.segmentName(1)}.jsonl"), false)
    try out.write(s"$line\n$line\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val journal = new Journal(dir.toString, conf, codec)
    journal.restore()
    assert(journal.incubating == Vector(row))
  }

  test("a segment whose last line is torn restores every record before it; a bad line before the last fails the restore") {
    val codec = graft.api.JsonCodec.forSession(spark)
    val conf = spark.sessionState.newHadoopConf()
    val r1 = IncubRow("p", "inc-1", new Timestamp(1000L), None, "dependencies", 0, Map("a" -> "exec-1"))
    val r2 = IncubRow("q", "inc-2", new Timestamp(2000L), None, "concurrency", 0, Map.empty)
    val l1 = codec.line(Journal.Record(added = Seq(r1), mq_offset = Some(3L)))
    val l2 = codec.line(Journal.Record(added = Seq(r2), mq_offset = Some(5L)))
    val torn = codec.line(Journal.Record(removed = Seq("inc-1"), mq_offset = Some(9L)))
    def segment(body: String): Journal = {
      val dir = new Path(SparkSuite.tempDir("journal-torn"))
      val raw = dir.getFileSystem(conf).asInstanceOf[LocalFileSystem].getRawFileSystem
      val out = raw.create(new Path(dir, s"journal/${Journal.segmentName(1)}.jsonl"), false)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
      new Journal(dir.toString, conf, codec)
    }
    // a write that never returned: the last line stops mid-record
    val j = segment(s"$l1\n$l2\n${torn.take(torn.length / 2)}")
    j.restore()
    assert(j.incubating == Vector(r1, r2), "every record before the torn line restores")
    assert(j.mqOffset.contains(5L), "the torn record's offset must not restore")
    // the same damage before the last line is corruption, not a torn write
    val e = intercept[IllegalArgumentException] {
      segment(s"$l1\n${torn.take(torn.length / 2)}\n$l2\n").restore()
    }
    assert(e.getMessage.contains("malformed JSON"), e.getMessage)
  }

  /** A pod-like backend that keeps `wasAborted`'s default: an aborted
    * run is deleted, posts no callback and drops out of its rows. Every
    * submit is counted, a resubmit too. */
  private final class VanishingEngine extends EngineBackend {
    val name = "spark-local"
    val submits = mutable.ArrayBuffer.empty[String]
    private val live = mutable.LinkedHashMap.empty[String, Submission]
    def submit(sub: Submission, job: EngineJob): Unit = synchronized {
      submits += sub.exec_uuid
      live(sub.exec_uuid) = sub
    }
    def abort(token: String): Unit = synchronized {
      live.keys.filter(id => id == token || s"pod-$id" == token).toSeq.foreach(live.remove)
    }
    def jobs(spark: SparkSession): Dataset[RunningJob] =
      spark.createDataset(rows(spark))(Encoders.product[RunningJob])
    override def rows(spark: SparkSession): Seq[RunningJob] = synchronized {
      live.values.toSeq.map(s =>
        RunningJob(s.exec_uuid, s.pipeline_uuid, name, s"pod-${s.exec_uuid}", "running", None, None))
    }
    def logs(execUuid: String, maxKb: Int): String = ""
  }

  test("abort: a restart does not resubmit a run aborted by its exec_uuid or its tracking id, even when the backend deletes it") {
    val engine = new VanishingEngine
    val cfg = GraftConfig.default
    val policy = new Auth.Policy(new Auth.StaticTokenVerifier(Map("t" -> Seq("Data-Admin"))), apiTokens = Set.empty)
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(engine)), cfg)
    val root = SparkSuite.tempDir("journal-abort")
    def incarnation(): GraftService = {
      val s = new GraftService(new SecuredGraftApi(api, policy), spark, mqEndpoint = None,
        checkpointRoot = root, jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())), cfg = cfg)
      s.recover()
      s
    }
    val svc = incarnation()
    val now = new Timestamp(1767225600000L)
    val subs = svc.facade.ingest(Seq("ingest-orders", "ingest-customer", "ingest-lineitem").zipWithIndex.map {
      case (p, i) => LifecycleEvent(701L + i, "job_exec_update", "origination", p, s"orig-$p", now, now, 0,
        disable_downstream = false)
    }, now).map(_.exec_uuid)
    assert(subs.size == 3 && engine.submits == subs)
    val base = s"http://127.0.0.1:${svc.facade.start(0).getPort}"
    try Seq(s"pod-${subs(0)}", subs(1)).foreach { token =>
      val res = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"$base/pipeline/dispatcher/abort_pipeline?engine_tracking_id=$token"))
          .DELETE().header("Authorization", "Bearer t").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200, res.body())
    } finally svc.facade.stop()
    assert(engine.rows(spark).map(_.exec_uuid) == Seq(subs(2)))
    assert(svc.journal.open.map(_.exec_uuid) == Seq(subs(2)))
    assert(svc.facade.running.rows.map(_.exec_uuid) == Seq(subs(2)), "the gate's live set")
    svc.journal.close() // the process is gone
    val restarted = incarnation()
    // only the run nobody aborted is submitted again
    assert(engine.submits == subs :+ subs(2))
    restarted.journal.close()
  }

  /** An engine whose runs outlive the service: it starts each exec_uuid
    * once (a second submit of a started exec is a no-op, like creating a
    * pod that exists) and reports no live runs. */
  private final class PodEngine extends EngineBackend {
    val name = "spark-local"
    val started = mutable.LinkedHashMap.empty[String, Submission]
    def submit(sub: Submission, job: EngineJob): Unit = synchronized {
      if (!started.contains(sub.exec_uuid)) started(sub.exec_uuid) = sub
    }
    def abort(execUuid: String): Unit = ()
    def jobs(spark: SparkSession): Dataset[RunningJob] =
      spark.emptyDataset[RunningJob](Encoders.product[RunningJob])
    override def rows(spark: SparkSession): Seq[RunningJob] = Nil
    def logs(execUuid: String, maxKb: Int): String = ""
  }

  private final case class Crash(point: String) extends RuntimeException(point)

  private sealed trait Tick { def now: Timestamp }
  /** MQ-style: the events are the messages at offsets `[from, end)`. */
  private final case class Batch(now: Timestamp, events: Seq[LifecycleEvent], from: Long) extends Tick {
    def end: Long = from + events.size
  }
  private final case class Cull(now: Timestamp) extends Tick

  private val pool = Seq("ingest-orders", "ingest-customer", "clean-orders", "clean-customer",
    "report-weekly", "flaky-export", "stream-metrics")

  /** A seeded tick sequence and what the pure fold makes of it: the
    * submissions, the incubation rows after each tick, and the runs
    * still waiting for their terminal event at the end. */
  private def model(api: GraftApi, seed: Int): (Seq[Tick], Seq[Submission], Seq[Seq[IncubRow]], Set[String]) = {
    val rnd = new scala.util.Random(seed)
    var clock = 1767225600000L + seed * 1000L // 2026-01-01
    var nextId = seed * 1000L + 1
    var rows = Seq.empty[IncubRow]
    val subs = mutable.ArrayBuffer.empty[Submission]
    val pending = mutable.ArrayBuffer.empty[Submission]
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val states = mutable.ArrayBuffer.empty[Seq[IncubRow]]
    var offset = 0L
    def event(subtype: String, pipeline: String, exec: String, retry: Int, now: Timestamp) = {
      nextId += 1
      LifecycleEvent(nextId, "job_exec_update", subtype, pipeline, exec, now, now, retry,
        disable_downstream = false)
    }
    (0 until 12 + rnd.nextInt(6)).foreach { _ =>
      clock += (rnd.nextInt(12) match {
        case 0 => 90000000L // past the age-out
        case 1 | 2 | 3 => 301000L + rnd.nextInt(100000) // past the debounce
        case _ => rnd.nextInt(60000)
      })
      val now = new Timestamp(clock)
      val tick =
        if (rnd.nextInt(6) == 0) Cull(now)
        else Batch(now, from = offset, events = (0 until 1 + rnd.nextInt(3)).map { _ =>
          if (pending.nonEmpty && rnd.nextInt(3) > 0) {
            val s = pending.remove(rnd.nextInt(pending.size))
            event(if (rnd.nextInt(4) == 0) "failure" else "success", s.pipeline_uuid, s.exec_uuid,
              s.retry_count, now)
          } else {
            val p = pool(rnd.nextInt(pool.size))
            event("origination", p, s"orig-$p-$nextId", 0, now)
          }
        })
      val events = tick match { case b: Batch => offset = b.end; b.events; case Cull(_) => Nil }
      if (events.nonEmpty || rows.nonEmpty) {
        val step = api.dispatchRows(events, Nil, rows, now)
        rows = step.newIncubating ++ step.deferred
        subs ++= step.submissions
        pending ++= step.submissions
      }
      ticks += tick
      states += rows
    }
    (ticks.toSeq, subs.toSeq, states.toSeq, pending.map(_.exec_uuid).toSet)
  }

  private def sorted(rows: Seq[IncubRow]) = rows.sortBy(_.obj_id)

  test("crash consistency: over 200 seeds, crashes at every durable boundary lose and duplicate no run") {
    val cfg = GraftConfig.default
    val policy = new Auth.Policy(new Auth.StaticTokenVerifier(Map("t" -> Seq("Data-Admin"))), apiTokens = Set.empty)
    val catalog = Catalog(Fixtures.defsDS(spark))
    val edges = Fixtures.edgesDS(spark)
    val crashesAt = mutable.Map.empty[String, Int].withDefaultValue(0)
    val t0 = System.nanoTime()
    (1 to 200).foreach { seed =>
      val engine = new PodEngine
      val api = new GraftApi(spark, catalog, edges, new EngineManager(Seq(engine)), cfg)
      val (ticks, expected, states, pendingAtEnd) = model(api, seed)
      val root = SparkSuite.tempDir(s"journal-crash-$seed")
      val faults = new scala.util.Random(-seed)
      val maxCrashes = 1 + faults.nextInt(4)
      var crashes = 0
      var lastCrash = ""
      // the end of the last batch whose record committed
      var committed = 0L
      var clock = ticks.head.now
      def incarnation(): GraftService = {
        val s = new GraftService(new SecuredGraftApi(api, policy), spark, mqEndpoint = None,
          checkpointRoot = root, jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
          cfg = cfg, nowProvider = () => clock)
        s.fault = point =>
          if (crashes < maxCrashes && faults.nextInt(12) == 0) {
            crashes += 1
            crashesAt(point) += 1
            lastCrash = point
            throw Crash(point)
          }
        s.recover()
        s
      }
      var svc = incarnation()
      ticks.zip(states).zipWithIndex.foreach { case ((tick, state), i) =>
        clock = tick.now
        var done = false
        while (!done) {
          try {
            tick match {
              case b @ Batch(now, events, from) =>
                // the broker redelivers from the offset the journal holds
                val restored = svc.journal.mqOffset.getOrElse(0L)
                assert(restored == from || restored == b.end,
                  s"seed $seed tick $i: offset $restored outside the batch [$from, ${b.end})")
                val redelivered = events.drop((restored - from).toInt)
                if (redelivered.nonEmpty)
                  svc.facade.ingestDedup(redelivered, now, new Timestamp(now.getTime - 7 * 86400000L),
                    Some(b.end))
                committed = b.end
              case Cull(_) => svc.cullTick()
            }
            done = true
          } catch {
            case Crash(point) =>
              // the batch's record is on the disk once the journal write returned
              tick match {
                case b: Batch if point != "before-journal" => committed = b.end
                case _ =>
              }
              svc.journal.close() // the process is gone: its descriptors close
              svc = incarnation()
              assert(svc.journal.mqOffset.getOrElse(0L) == committed,
                s"seed $seed tick $i: restored offset ${svc.journal.mqOffset} after a crash at " +
                  s"$lastCrash, but the last committed batch ends at $committed")
              assert(svc.facade.running.rows.map(_.exec_uuid) == svc.journal.open.map(_.exec_uuid),
                s"seed $seed tick $i: the gate's live set is not the restored open outbox")
          }
        }
        assert(sorted(svc.facade.incubating.rows) == sorted(state),
          s"seed $seed tick $i ($tick): incubation rows diverge from the model")
      }
      // a clean restart from disk restores the state and exactly the open runs
      svc.journal.close()
      svc = incarnation()
      assert(sorted(svc.facade.incubating.rows) == sorted(states.last), s"seed $seed: restored rows")
      assert(svc.journal.open.map(_.exec_uuid).toSet == pendingAtEnd, s"seed $seed: open outbox")
      assert(svc.facade.running.rows.map(_.exec_uuid).toSet == pendingAtEnd, s"seed $seed: the gate's live set")
      val lastEnd = ticks.collect { case b: Batch => b.end }.lastOption
      assert(svc.journal.mqOffset == lastEnd, s"seed $seed: restored offset")
      if (seed % 10 == 0) {
        // the whole-log view holds each accepted event once, compacted or not
        val logged = svc.facade.eventLog.get().collect().map(_.event_id).toSeq
        val accepted = ticks.collect { case Batch(_, evs, _) => evs.map(_.event_id) }.flatten
        assert(logged.sorted == accepted.sorted, s"seed $seed: event log")
      }
      svc.journal.close()
      val started = engine.synchronized(engine.started.values.toSeq)
      assert(started.sortBy(_.exec_uuid) == expected.sortBy(_.exec_uuid),
        s"seed $seed: started runs diverge from the model\n" +
          s"lost: ${expected.diff(started).map(_.exec_uuid)}\nextra: ${started.diff(expected).map(_.exec_uuid)}")
      assert(expected.map(_.exec_uuid).distinct.size == expected.size, s"seed $seed: the model repeats an exec")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"200 seeds in $secs%.1f s; crashes by boundary: ${crashesAt.toSeq.sorted.mkString(", ")}")
    Seq("before-journal", "after-journal", "after-submit", "mid-compaction:history",
      "mid-compaction:snapshot").foreach { p =>
      assert(crashesAt(p) >= 3, s"boundary $p crashed only ${crashesAt(p)} times")
    }
  }
}
