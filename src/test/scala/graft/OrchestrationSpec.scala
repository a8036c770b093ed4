package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.Fixtures
import graft.model._
import graft.orchestration._
import graft.orchestration.Dispatcher.IncubRow

/** Integration tests for the dispatcher/catalog/engine/cron layer over
  * the deterministic fixtures (SURVEY §5.5 per-operator units +
  * §5.3-adjacent batch checks). */
class OrchestrationSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def ts(s: String) = Fixtures.ts(s)
  private val now = Fixtures.NOW

  private def mkEvent(id: Long, subtype: String, pipeline: String,
                      retry: Int = 0): LifecycleEvent =
    LifecycleEvent(id, "job_exec_update", subtype, pipeline, s"exec-$id",
      ts("2024-01-31 23:00:00"), ts("2024-01-31 23:00:00"), retry, disable_downstream = false)

  private def incubRows(inc: Seq[Incubating], trs: Seq[IncubatingTrigger]): Seq[IncubRow] = {
    val byObj = trs.groupBy(_.obj_id)
    inc.map(i => IncubRow(i.pipeline_uuid, i.obj_id, i.create_time, i.created_by_uuid,
      i.reason, i.retry_count, byObj.getOrElse(i.obj_id, Nil).map(t => t.trigger_uuid -> t.status).toMap))
  }

  private val catalog = Catalog(Fixtures.defs, Fixtures.edges)

  private def step(events: Seq[LifecycleEvent],
                   incub: Seq[IncubRow] = Nil,
                   running: Seq[RunningJob] = Nil,
                   at: java.sql.Timestamp = now,
                   cat: Catalog = catalog): Dispatcher.Step =
    Dispatcher.step(cat, running, incub, events, at, Fixtures.DebounceSeconds, Fixtures.AgeOutSeconds)

  test("origination of a known pipeline submits it") {
    val r = step(Seq(mkEvent(1, "origination", "ingest-orders")))
    val subs = r.submissions
    assert(subs.map(_.pipeline_uuid).toSeq == Seq("ingest-orders"))
    assert(r.warnings.size == 0)
  }

  test("origination of an unknown pipeline warns, never submits (P4)") {
    val r = step(Seq(mkEvent(2, "origination", "no-such-pipeline")))
    assert(r.submissions.size == 0)
    assert(r.warnings.map(_.pipeline_uuid) == Seq("no-such-pipeline"))
  }

  test("success fans out: 'any' children run, 'all' children incubate (P2/K8)") {
    val r = step(Seq(mkEvent(3, "success", "report-daily")))
    val subs = r.submissions.map(_.pipeline_uuid).sorted.toSeq
    // report-weekly + flaky-export are 'any'; report-monthly + ghost-child are 'all' >1 dep
    assert(subs == Seq("flaky-export", "report-weekly"))
    val inc = r.newIncubating.map(_.pipeline_uuid).sorted.toSeq
    assert(inc == Seq("ghost-child", "report-monthly"))
    // the satisfied slot records the source exec uuid
    val gh = r.newIncubating.find(_.pipeline_uuid == "report-monthly").get
    assert(gh.triggers("report-daily") == "exec-3")
    assert(gh.triggers("agg-revenue") == StateMachine.WaitRow.Waiting)
  }

  test("all-deps satisfied within one batch releases the child with sources (D14+S2-ii)") {
    val r = step(Seq(mkEvent(10, "success", "clean-orders"), mkEvent(11, "success", "clean-customer")))
    val sub = r.submissions.find(_.pipeline_uuid == "join-orders-customer")
    assert(sub.isDefined)
    assert(sub.get.source_uuids == Map("clean-orders" -> "exec-10", "clean-customer" -> "exec-11"))
  }

  test("disable_downstream suppresses fan-out (P2)") {
    val ev = mkEvent(40, "success", "report-daily").copy(disable_downstream = true)
    val r = step(Seq(ev))
    assert(r.submissions.size == 0)
    assert(r.newIncubating.size == 0)
  }

  test("failure below retry_max resubmits with retry+1; at max dead-letters (P3/K15)") {
    val r = step(Seq(
      mkEvent(20, "failure", "flaky-export", retry = 1), // retry_max=3 -> retry
      mkEvent(21, "failure", "flaky-export", retry = 3), // at max -> dead letter
      mkEvent(22, "failure", "ingest-orders", retry = 0))) // retry_max=0 -> dead letter
    val subs = r.submissions
    assert(subs.map(s => (s.pipeline_uuid, s.retry_count)).toSet == Set(("flaky-export", 2)))
    assert(r.deadLetters.map(_.pipeline_uuid).sorted ==
      Seq("flaky-export", "ingest-orders"))
  }

  test("concurrency gate: running non-concurrent pipeline defers (P5/P6/K7)") {
    val running = Seq(RunningJob("e1", "report-daily", "spark-local", "t", "running", None, None))
    val r = step(Seq(mkEvent(30, "origination", "report-daily"),
      mkEvent(31, "origination", "stream-metrics")), running = running ++ Seq(
      RunningJob("e2", "stream-metrics", "spark-local", "t", "running", None, None)))
    // stream-metrics has concurrency=true -> submits even while running
    assert(r.submissions.map(_.pipeline_uuid).toSeq == Seq("stream-metrics"))
    val deferred = r.deferred
    assert(deferred.map(_.pipeline_uuid).toSeq == Seq("report-daily"))
    assert(deferred.head.reason == "concurrency")
  }

  test("concurrency gate ranks WITHIN the step: of N same-step candidates one submits, the rest defer with lineage (r7 review)") {
    // two originations for the same concurrency=false pipeline in ONE
    // step: the reference dispatches sequentially (first becomes the
    // running instance, second hits check_concurrency) — the set-at-
    // once gate used to submit both
    val r = step(Seq(mkEvent(60, "origination", "report-daily"),
      mkEvent(61, "origination", "report-daily")))
    assert(r.submissions.map(_.pipeline_uuid).toSeq == Seq("report-daily"),
      "exactly one same-step candidate may run for a non-concurrent pipeline")
    val d = r.deferred
    assert(d.map(_.pipeline_uuid).toSeq == Seq("report-daily") &&
      d.head.reason == "concurrency")
    // concurrency=true pipelines are exempt: both same-step candidates run
    val r2 = step(Seq(mkEvent(62, "origination", "stream-metrics"),
      mkEvent(63, "origination", "stream-metrics")))
    assert(r2.submissions.length == 2 && r2.deferred.isEmpty)
  }

  test("deferred rows keep source lineage; the debounced requeue releases WITH it (job_culler.py:26, r7 review)") {
    // a fan-out candidate (carrying {parent -> exec}) deferred by the
    // gate, then released by the culler after debounce: the released
    // submission must still carry the upstream exec lineage
    val running = Seq(RunningJob("e1", "report-weekly", "spark-local", "t", "running", None, None))
    val r1 = step(Seq(mkEvent(70, "success", "report-daily")), running = running)
    val defRows = r1.deferred.filter(_.pipeline_uuid == "report-weekly")
    assert(defRows.length == 1)
    assert(defRows.head.triggers == Map("report-daily" -> "exec-70"),
      s"deferred row must record its sources: ${defRows.head.triggers}")
    // debounce expires (advance now), nothing running anymore -> requeue
    val later = new java.sql.Timestamp(now.getTime + (Fixtures.DebounceSeconds + 10) * 1000L)
    val r2 = step(Nil, incub = defRows, at = later)
    val released = r2.submissions.filter(_.pipeline_uuid == "report-weekly")
    assert(released.length == 1 && released.head.retry_count == 1)
    assert(released.head.source_uuids == Map("report-daily" -> "exec-70"),
      s"requeued run lost its lineage: ${released.head.source_uuids}")
  }

  test("a run blocked across debounce cycles keeps a STABLE obj_id (r12 review)") {
    // pre-fix each cycle wrapped the prior id: defer "inc-c-X" ->
    // release tag "rel-inc-c-X-<ms>" -> re-defer "inc-c-rel-inc-c-X-<ms>"
    // — ~30 chars of growth per cycle, unbounded for a pipeline parked
    // behind a long-running instance
    val running = Seq(RunningJob("e1", "report-weekly", "spark-local", "t", "running", None, None))
    val r1 = step(Seq(mkEvent(70, "success", "report-daily")), running = running)
    val d1 = r1.deferred.filter(_.pipeline_uuid == "report-weekly")
    assert(d1.length == 1)
    val stableId = d1.head.obj_id
    var rows = d1.toSeq
    var at = now
    (1 to 3).foreach { cycle =>
      at = new java.sql.Timestamp(at.getTime + (Fixtures.DebounceSeconds + 10) * 1000L)
      val r = step(Nil, incub = rows, running = running, at = at) // STILL blocked
      val d = r.deferred.filter(_.pipeline_uuid == "report-weekly")
      assert(d.length == 1, s"cycle $cycle: expected one re-deferred row")
      assert(d.head.obj_id == stableId,
        s"cycle $cycle grew the obj_id: ${d.head.obj_id}")
      // requeue costs a retry each cycle — the job_culler.py:26 parity
      assert(d.head.retry_count == cycle, s"cycle $cycle retry ${d.head.retry_count}")
      rows = d.toSeq
    }
  }

  test("culler releases satisfied + debounced rows from prior state, drops aged (S2/K16-K18)") {
    val state = incubRows(Fixtures.incubating, Fixtures.incubatingTriggers)
    val r = step(Nil, incub = state)
    val subs = r.submissions
    // all-satisfied rows release: inc-03 (agg-revenue), inc-11 (flaky-export),
    // inc-15 (agg-supplier-balance); inc-05 would be but ages out first.
    // concurrency past debounce: only inc-06 (report-daily) — inc-07/inc-16
    // are within the 300 s debounce and stay incubating.
    assert(subs.map(_.pipeline_uuid).sorted.toSeq ==
      Seq("agg-revenue", "agg-supplier-balance", "flaky-export", "report-daily"))
    val dropped = r.dropped.map(_.obj_id).sorted
    assert(dropped == Seq("inc-05", "inc-09", "inc-17"))
    // inc-08 within debounce stays
    assert(r.newIncubating.exists(_.obj_id == "inc-08"))
  }

  test("success fan-out to a child with no def warns instead of failing (ADVICE r1)") {
    // an edge whose child def was flushed (D7 bypasses the D5 guard)
    val danglingEdges = Fixtures.edges :+ PipelineTrigger("vanished-child", "ingest-orders", "any")
    val r = step(Seq(mkEvent(50, "success", "ingest-orders")),
      cat = Catalog(Fixtures.defs, danglingEdges))
    // known children still dispatch; the dangling one becomes a warning
    assert(r.submissions.map(_.pipeline_uuid).sorted.toSeq ==
      Seq("clean-orders", "stream-metrics"))
    val w = r.warnings.map(w => (w.pipeline_uuid, w.warning))
    assert(w.toSeq == Seq(("vanished-child", "unknown child pipeline for success fan-out")))
  }

  test("culler release exec ids are stable across step() invocations (ADVICE r1)") {
    // same pipeline released in two different steps must yield distinct exec ids
    def releaseOf(objId: String, t: java.sql.Timestamp) = {
      val rows = incubRows(Fixtures.incubating.filter(_.obj_id == objId),
        Fixtures.incubatingTriggers)
      step(Nil, incub = rows, at = t).submissions.map(_.exec_uuid)
    }
    // inc-06 and inc-04+inc-06 both contain report-daily releases
    val a = releaseOf("inc-06", now)
    val b = releaseOf("inc-06", new java.sql.Timestamp(now.getTime + 60000))
    assert(a.nonEmpty && b.nonEmpty && a.toSet.intersect(b.toSet).isEmpty)
    // and two different rows released in ONE step differ too
    val both = incubRows(Fixtures.incubating.filter(i => Set("inc-03", "inc-06").contains(i.obj_id)),
      Fixtures.incubatingTriggers)
    val subs = step(Nil, incub = both).submissions.map(_.exec_uuid)
    assert(subs.distinct.length == subs.length)
  }

  test("catalog upsert validates trigger references (D5)") {
    val cat = catalog
    val ok = cat.upsert(Fixtures.defs.head.copy(pipeline_uuid = "new-pipe"),
      Seq(PipelineTrigger("new-pipe", "ingest-orders", "any")))
    assert(ok.defs.size == 41)
    val bad = intercept[IllegalArgumentException] {
      cat.upsert(Fixtures.defs.head.copy(pipeline_uuid = "new-pipe"),
        Seq(PipelineTrigger("new-pipe", "does-not-exist", "any")))
    }
    assert(bad.getMessage.contains("does-not-exist"))
    intercept[IllegalArgumentException] {
      cat.upsert(Fixtures.defs.head.copy(pipeline_uuid = "Bad_Uuid"), Nil)
    }
  }

  test("catalog delete refuses when downstream exists (D6), allows otherwise") {
    val cat = catalog
    intercept[IllegalArgumentException] { cat.delete("ingest-orders") }
    assert(cat.delete("ingest-orders", safeDelete = false).defs.size == 39)
    assert(cat.delete("adhoc-task-00").defs.size == 39)
  }

  test("catalog list validates prefix and filters (D2)") {
    val cat = catalog
    assert(cat.list(Some("ingest-")).size == 7)
    assert(cat.list(tagTeam = Some("data-eng"), tagEnv = Some("prod")).size == 10)
    intercept[IllegalArgumentException] { cat.list(Some("Ingest_")) }
  }

  test("cron: parse/due/nextFire (S4)") {
    assert(Cron.due("0 0 * * *", ts("2024-02-01 00:00:30")))
    assert(!Cron.due("0 0 * * *", ts("2024-02-01 00:01:00")))
    assert(Cron.due("*/15 * * * *", ts("2024-02-01 10:45:00")))
    assert(Cron.due("30 2 * * 0", ts("2024-02-04 02:30:00"))) // 2024-02-04 = Sunday
    assert(!Cron.due("30 2 * * 0", ts("2024-02-05 02:30:00")))
    assert(Cron.nextFire("0 3 * * *", ts("2024-02-01 04:00:00"))
      .contains(ts("2024-02-02 03:00:00")))
    intercept[IllegalArgumentException] { Cron.parse("not a cron") }
  }

  test("cron: '*/0' rejected at parse time, not at match time (r7 review)") {
    // accepted, it would ArithmeticException inside due() and kill the
    // whole scheduler tick instead of failing one registration
    intercept[IllegalArgumentException] { Cron.parse("*/0 * * * *") }
    intercept[IllegalArgumentException] {
      new RegistryCronProvider().createCronJob("* */0 * * *", "p1")
    }
  }

  test("cron: dom/dow OR rule when both restricted; dow 7 = Sunday") {
    // '0 0 1 * 1': both day fields restricted -> fires on the 1st OR Mondays
    assert(Cron.due("0 0 1 * 1", ts("2024-02-01 00:00:00"))) // Thu the 1st (dom)
    assert(Cron.due("0 0 1 * 1", ts("2024-02-05 00:00:00"))) // Monday (dow)
    assert(!Cron.due("0 0 1 * 1", ts("2024-02-06 00:00:00"))) // Tue the 6th
    // only one day field restricted -> plain AND, as before
    assert(!Cron.due("0 0 2 * *", ts("2024-02-05 00:00:00")))
    assert(!Cron.due("0 0 * * 1", ts("2024-02-04 00:00:00"))) // Sunday
    // dow=7 is the standard Sunday alias
    assert(Cron.due("30 2 * * 7", ts("2024-02-04 02:30:00"))) // Sunday
    assert(!Cron.due("30 2 * * 7", ts("2024-02-05 02:30:00"))) // Monday
    assert(Cron.due("30 2 * * 5-7", ts("2024-02-04 02:30:00"))) // Fri-Sun incl. Sunday
  }

  test("cron property: nextFire always satisfies due; due is minute-stable") {
    val exprs = Seq("*/5 * * * *", "0 0 * * *", "30 2 * * 0", "15 */6 1-15 * *", "0 12 * * 1-5")
    val starts = (0 until 20).map(i => ts(f"2024-0${1 + i % 2}%d-${1 + i}%02d 0${i % 10}%d:${(i * 7) % 60}%02d:00"))
    for (e <- exprs; t <- starts) {
      Cron.nextFire(e, t).foreach { nf =>
        assert(Cron.due(e, nf), s"nextFire($e, $t) = $nf is not due")
        assert(nf.after(t))
        // due is stable within the minute
        assert(Cron.due(e, new java.sql.Timestamp(nf.getTime + 59000)))
      }
    }
  }

  test("cron tick emits origination events for due schedules") {
    // fixtures schedule sources at '0 {i%24} * * *'
    val fired = Cron.fire(Fixtures.defs, ts("2024-02-01 03:00:10"))
    assert(fired.map(_.pipeline_uuid).toSeq == Seq("ingest-part")) // i=3
    assert(fired.head.event_subtype == "origination")
    assert(Cron.fire(Fixtures.defs, ts("2024-02-01 03:01:10")).isEmpty)
  }

  test("engine: submit/status/logs/abort lifecycle (E1-E8)") {
    val engine = new LocalSparkEngine(spark)
    val mgr = new EngineManager(Seq(engine))
    val sub = Submission("adhoc-task-00", "exec-test-1", Map.empty, 0)
    mgr.submit("spark-local", sub, s => { s.range(1000).count(); () })
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      engine.jobs(spark).collect().head.engine_status == "running") Thread.sleep(100)
    val job = engine.jobs(spark).collect().head
    assert(job.engine_status == "success" && job.pipeline_uuid == "adhoc-task-00")
    assert(engine.logs("exec-test-1").contains("completed"))
    assert(mgr.filteredRows(spark, statuses = Seq("success")).size == 1)
    intercept[IllegalArgumentException] { mgr.submit("k8s", sub, _ => ()) }
  }

  test("process engine: submit/status/logs/abort lifecycle against the same trait (E1-E8)") {
    val engine = new ProcessEngine
    val mgr = new EngineManager(Seq(engine))
    val sub = Submission("adhoc-task-00", "exec-proc-1", Map("dep-a" -> "exec-42"), 1)
    // run context rides the environment exactly like the pod spec (engine.py:130-143)
    mgr.submit("process", sub, EngineJob.Command(Seq("/bin/sh", "-c",
      "echo run $PIPELINE_UUID $EXEC_UUID retry=$RETRY_COUNT src=$SOURCE_UUID")))
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      engine.jobs(spark).collect().head.engine_status == "running") Thread.sleep(50)
    val job = engine.jobs(spark).collect().head
    assert(job.engine_status == "success" && job.pipeline_uuid == "adhoc-task-00")
    assert(job.engine_tracking_id == "exec-proc-1-adhoc-task-00-1") // pod name, engine.py:108
    assert(engine.logs("exec-proc-1").contains("run adhoc-task-00 exec-proc-1 retry=1 src=dep-a=exec-42"))

    // failure path: nonzero exit
    mgr.submit("process", sub.copy(exec_uuid = "exec-proc-2"),
      EngineJob.Command(Seq("/bin/sh", "-c", "exit 3")))
    val d2 = System.currentTimeMillis() + 30000
    def st2() = engine.jobs(spark).collect().find(_.exec_uuid == "exec-proc-2").get.engine_status
    while (System.currentTimeMillis() < d2 && st2() == "running") Thread.sleep(50)
    assert(st2() == "failed")

    // abort = kill the process (delete_namespaced_pod, engine.py:162-169)
    mgr.submit("process", sub.copy(exec_uuid = "exec-proc-3"),
      EngineJob.Command(Seq("/bin/sh", "-c", "sleep 30")))
    Thread.sleep(200)
    mgr.abort("exec-proc-3")
    val d3 = System.currentTimeMillis() + 30000
    def st3() = engine.jobs(spark).collect().find(_.exec_uuid == "exec-proc-3").get.engine_status
    while (System.currentTimeMillis() < d3 && st3() == "running") Thread.sleep(50)
    assert(st3() == "aborted")

    // backends reject job kinds they cannot host
    intercept[IllegalArgumentException] { engine.submit(sub, EngineJob.SparkClosure(_ => ())) }
    intercept[IllegalArgumentException] {
      new LocalSparkEngine(spark).submit(sub, EngineJob.Command(Seq("true")))
    }
    // filteredRows unions across heterogeneous backends
    val both = new EngineManager(Seq(new LocalSparkEngine(spark), engine))
    assert(both.filteredRows(spark, statuses = Seq("success", "failed", "aborted"), limit = 10)
      .size == 3)
  }

  test("abort/logs accept the engine_tracking_id the jobs endpoint reports (r10 review)") {
    // the HTTP routes instruct clients to pass engine_tracking_id; the
    // backends keyed ONLY on exec_uuid, so following the API's own
    // contract aborted nothing (200) and returned empty logs
    val engine = new ProcessEngine
    engine.submit(Submission("adhoc-task-00", "exec-track-1", Map.empty, 2),
      EngineJob.Command(Seq("/bin/sh", "-c", "sleep 30")))
    Thread.sleep(200)
    val job = engine.jobs(spark).collect().find(_.exec_uuid == "exec-track-1").get
    assert(job.engine_tracking_id == "exec-track-1-adhoc-task-00-2")
    engine.abort(job.engine_tracking_id) // by TRACKING id, not exec_uuid
    val d = System.currentTimeMillis() + 30000
    def st() = engine.jobs(spark).collect().find(_.exec_uuid == "exec-track-1").get.engine_status
    while (System.currentTimeMillis() < d && st() == "running") Thread.sleep(50)
    assert(st() == "aborted", "abort by tracking id must reach the run")
    assert(engine.wasAborted(job.engine_tracking_id), "wasAborted resolves tracking ids too")

    val local = new LocalSparkEngine(spark)
    val gate = new java.util.concurrent.CountDownLatch(1)
    local.submit(Submission("p", "exec-track-2", Map.empty, 0),
      EngineJob.SparkClosure { _ => gate.await(); () })
    Thread.sleep(200)
    val ljob = local.jobs(spark).collect().find(_.exec_uuid == "exec-track-2").get
    assert(ljob.engine_tracking_id == "exec-p-0")
    local.abort(ljob.engine_tracking_id)
    assert(local.wasAborted("exec-track-2"), "abort by tracking id must stamp the run")
    gate.countDown()
    assert(local.logs(ljob.engine_tracking_id) == local.logs("exec-track-2"),
      "logs by tracking id must read the same buffer")
  }

  test("abort fans out to EVERY match when a token is one run's exec uuid AND another's tracking id (r12 review)") {
    // dispatcher exec uuids (exec-<pipeline>-<eventId>) and spark-local
    // tracking ids (exec-<pipeline>-<retry>) share a namespace: run A's
    // exec uuid "exec-p-0" (event 0 of pipeline p) is byte-identical to
    // the tracking id of every retry-0 run of p. Pre-fix, resolveIds
    // short-circuited on the exact key and aborted ONLY run A — the
    // caller's tracking-id target kept running while abort returned ok.
    val local = new LocalSparkEngine(spark)
    val gate = new java.util.concurrent.CountDownLatch(1)
    local.submit(Submission("q", "exec-p-0", Map.empty, 0), // exact-key run
      EngineJob.SparkClosure { _ => gate.await(); () })
    local.submit(Submission("p", "exec-other", Map.empty, 0), // tracking = exec-p-0
      EngineJob.SparkClosure { _ => gate.await(); () })
    Thread.sleep(200)
    local.abort("exec-p-0")
    assert(local.wasAborted("exec-p-0"), "exact-key run must be aborted")
    assert(local.wasAborted("exec-other"),
      "the tracking-matched run must be aborted too (union, not short-circuit)")
    gate.countDown()
  }

  test("process engine: terminal statuses are never overwritten (ADVICE r3 race)") {
    val engine = new ProcessEngine
    // completion-then-abort: abort on an already-terminal run is a no-op
    engine.submit(Submission("adhoc-task-00", "exec-race-1", Map.empty, 0),
      EngineJob.Command(Seq("/bin/true")))
    val d1 = System.currentTimeMillis() + 30000
    def st(id: String) = engine.jobs(spark).collect().find(_.exec_uuid == id).get.engine_status
    while (System.currentTimeMillis() < d1 && st("exec-race-1") == "running") Thread.sleep(50)
    assert(st("exec-race-1") == "success")
    engine.abort("exec-race-1")
    assert(st("exec-race-1") == "success") // abort after natural exit: kept
    // abort-then-completion: the natural exit of the killed process must
    // not stamp 'failed' over 'aborted' (the get/put race this pins)
    engine.submit(Submission("adhoc-task-00", "exec-race-2", Map.empty, 0),
      EngineJob.Command(Seq("/bin/sh", "-c", "sleep 30")))
    Thread.sleep(200)
    engine.abort("exec-race-2")
    Thread.sleep(1500) // give the reaper Future time to observe the kill exit code
    assert(st("exec-race-2") == "aborted")
    // hammer: many short-lived runs aborted mid-flight land terminal exactly once
    val ids = (1 to 8).map(i => s"exec-race-h$i")
    ids.foreach(id => engine.submit(Submission("adhoc-task-00", id, Map.empty, 0),
      EngineJob.Command(Seq("/bin/sh", "-c", "sleep 0.05"))))
    ids.foreach(engine.abort)
    val d2 = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < d2 && ids.exists(st(_) == "running")) Thread.sleep(50)
    val finals = ids.map(st)
    assert(finals.forall(s => s == "aborted" || s == "success" || s == "failed"))
    Thread.sleep(500) // any late reaper write would flip a status now
    assert(ids.map(st) == finals, "a terminal status was overwritten after the fact")
  }

  test("process engine: command unmarshalled from engine_args JSON (engine.py:110-118)") {
    val c = ProcessEngine.commandFromEngineArgs(
      """{"pipeline_command": ["/bin/echo"], "pipeline_args": ["hello", "world"], "cpu_count": "2"}""")
    assert(c.argv == Seq("/bin/echo", "hello", "world"))
    val d = ProcessEngine.commandFromEngineArgs("""{"cpu_count": "2"}""",
      defaultCommand = Seq("/bin/true"))
    assert(d.argv == Seq("/bin/true"))
  }
}
