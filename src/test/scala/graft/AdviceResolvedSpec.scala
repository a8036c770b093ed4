package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftApi
import graft.meta.Fixtures
import graft.model.Submission
import graft.orchestration._
import graft.orchestration.StateMachine._

/** Pins the five r10 ADVICE fixes the r11 verdict asked to see
  * RESOLVED with a spec (they landed in r11 commit 37739bc; these are
  * the behavioral pins):
  *
  *  1. `GraftApi.manualOrigination` — two manual runs in the SAME
  *     millisecond mint distinct, strictly-decreasing event ids (the
  *     per-process floor), so the durable event log never aliases.
  *  2. `LocalSparkEngine.logs` — an ambiguous tracking id
  *     (`exec-<pipeline>-<retry>` shared by concurrent runs) resolves
  *     to the LIVE run, then the newest start — never an arbitrary
  *     terminal run while abort() fans out to all.
  *  3. `GraftSql.argString` — a TIMESTAMP literal renders in the
  *     SESSION time zone (not the JVM default), so the downstream
  *     session-zone cast round-trips the exact instant even when the
  *     two zones differ.
  *  4. `StateMachine` / incubation point ops — the state-machine core
  *     is id-format-AGNOSTIC: pre-r10 `inc-<eventId>` rows still
  *     satisfy/release in place (no duplicate WaitRow), and point ops
  *     address rows by the obj_id READ from state in either format.
  *     The documented upgrade reset (D17 flush) is for callers that
  *     re-DERIVE ids instead of reading them.
  *  5. Cron origination ids — the documented id-space map is live
  *     code, not a comment: cron ids sit at −(minute·1e6 + i), in a
  *     sub-range disjoint from manual (−epochMs) and callback
  *     (−epochNanos) ids.
  */
class AdviceResolvedSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // 1. manual event-id same-millisecond collision ------------------------
  test("manualOrigination: same-millisecond manual runs mint distinct decreasing ids") {
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))))
    val now = new Timestamp(1700000000123L)
    val ids = (1 to 4).map(_ => api.manualOrigination("report-daily", now).event_id)
    assert(ids.distinct.size == ids.size, s"aliased ids: $ids")
    assert(ids.forall(_ <= -now.getTime), s"ids must sit at or below -epochMs: $ids")
    assert(ids.sliding(2).forall { case Seq(a, b) => b < a },
      s"floor must be strictly decreasing: $ids")
  }

  // 2. ambiguous tracking-id log resolution ------------------------------
  test("logs by ambiguous tracking id prefers the LIVE run, then the newest start") {
    val engine = new LocalSparkEngine(spark)
    // run A: completes immediately; its exec uuid sorts FIRST, so the
    // old headOption-of-sorted-ids bug would serve ITS terminal log
    engine.submit(Submission("p", "exec-a", Map.empty, 0),
      EngineJob.SparkClosure(_ => ()))
    val d1 = System.currentTimeMillis() + 30000
    def status(id: String) =
      engine.jobs(spark).collect().find(_.exec_uuid == id).map(_.engine_status)
    while (System.currentTimeMillis() < d1 && status("exec-a").contains("running"))
      Thread.sleep(50)
    assert(status("exec-a").contains("success"))
    // run B: same pipeline + retry (same tracking id), still running
    val gate = new java.util.concurrent.CountDownLatch(1)
    engine.submit(Submission("p", "exec-b", Map.empty, 0),
      EngineJob.SparkClosure { _ => gate.await(); () })
    try {
      Thread.sleep(200)
      assert(status("exec-b").contains("running"))
      // A's terminal log says "completed"; B (live) has logged nothing
      // yet — the ambiguous id must serve B's buffer, not A's
      val ambiguous = engine.logs("exec-p-0")
      assert(!ambiguous.contains("exec-a completed"),
        s"ambiguous tracking id served the terminal run's logs: '$ambiguous'")
    } finally gate.countDown()
    val d2 = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < d2 && status("exec-b").contains("running"))
      Thread.sleep(50)
    // both terminal now: newest start wins — that's B
    assert(engine.logs("exec-p-0").contains("exec-b completed"),
      "with all runs terminal, the newest start's logs must be served")
  }

  // 2b. exact exec_uuid beats the tracking-id heuristic (r12 advice) -----
  test("logs by an EXACT exec_uuid serves that run even when the token is another run's tracking id") {
    val engine = new LocalSparkEngine(spark)
    // run A's exec uuid deliberately collides with the TRACKING id
    // that pipeline "q" retry 0 would mint ("exec-q-0")
    engine.submit(Submission("p", "exec-q-0", Map.empty, 0),
      EngineJob.SparkClosure(_ => ()))
    def status(id: String) =
      engine.jobs(spark).collect().find(_.exec_uuid == id).map(_.engine_status)
    val d1 = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < d1 && status("exec-q-0").contains("running"))
      Thread.sleep(50)
    assert(status("exec-q-0").contains("success"))
    // run B: pipeline "q" retry 0 → tracking id "exec-q-0", LIVE. The
    // abort-style union + live-first heuristic would serve B's (empty)
    // buffer; a read API must serve the exact-key match A.
    val gate = new java.util.concurrent.CountDownLatch(1)
    engine.submit(Submission("q", "exec-b-live", Map.empty, 0),
      EngineJob.SparkClosure { _ => gate.await(); () })
    try {
      Thread.sleep(200)
      assert(status("exec-b-live").contains("running"))
      assert(engine.logs("exec-q-0").contains("exec-q-0 completed"),
        s"exact exec_uuid must win over the live tracking-id match: '${engine.logs("exec-q-0")}'")
    } finally gate.countDown()
    val d2 = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < d2 && status("exec-b-live").contains("running"))
      Thread.sleep(50)
  }

  // 3. TZ-pinned timestamp literal rendering -----------------------------
  test("GraftSql timestamp literal renders in the session zone and round-trips exactly") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.TimestampType
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // 2024-02-15T12:34:56.789Z == 1708000496789000 micros
      val micros = java.time.Instant.parse("2024-02-15T12:34:56.789Z")
        .toEpochMilli * 1000L
      val rendered = graft.plans.GraftSql.argString(
        Seq(Literal(micros, TimestampType)), 0, "t")
      // session-zone wall clock (EST, UTC-5), NOT the JVM-default zone
      assert(rendered == "2024-02-15 07:34:56.789000",
        s"expected the New_York wall clock, got '$rendered'")
      // the downstream cast parses in the session zone: exact round-trip
      val back = spark.sql(s"SELECT CAST('$rendered' AS TIMESTAMP)")
        .head().getTimestamp(0)
      assert(back.getTime == micros / 1000L,
        s"round-trip drifted: ${back.getTime} != ${micros / 1000L}")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  // 4. pre-r10 obj_id format over the state machine ----------------------
  test("legacy inc-<eventId> rows satisfy in place — no duplicate WaitRow on replay") {
    val meta = Meta(Some("all"), Seq("dep-a", "dep-b"), 0, concurrency = false)
    val legacy = WaitRow("inc-000000000007", Fixtures.ts("2024-01-31 22:00:00"),
      Some("exec-old"), 0, "dependencies", Map("dep-a" -> WaitRow.Waiting, "dep-b" -> WaitRow.Waiting))
    val st0 = PipelineState(List(legacy))
    val ev = DepSatisfied("dep-a", "exec-7", 7L, Fixtures.ts("2024-01-31 23:00:00"))
    val st1 = applyDepSatisfied(st0, meta, ev, key = "p")
    assert(st1.rows.size == 1, s"replay over legacy state minted a duplicate: ${st1.rows}")
    assert(st1.rows.head.objId == "inc-000000000007", "row identity must be preserved")
    assert(st1.rows.head.triggers("dep-a") == "exec-7")
    // release path carries the legacy id through unchanged
    val st2 = applyDepSatisfied(st1, meta,
      DepSatisfied("dep-b", "exec-8", 8L, Fixtures.ts("2024-01-31 23:30:00")), key = "p")
    val (_, releases, _) = cull(st2, Fixtures.ts("2024-02-01 00:00:00"), 300, 86400)
    assert(releases.map(_.objId) == List("inc-000000000007"))
  }

  test("incubation point ops address rows by the obj_id read from state, either format") {
    val api = new GraftApi(spark, Catalog(Fixtures.defs, Fixtures.edges),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val rows = Seq(
      Dispatcher.IncubRow("p", "inc-000000000007", new Timestamp(1000L), None,
        "dependencies", 0, Map("dep-a" -> WaitRow.Waiting)),
      Dispatcher.IncubRow("p", "inc-000000000008-p", new Timestamp(2000L), None,
        "dependencies", 0, Map("dep-b" -> WaitRow.Waiting)))
    // update + delete by the LEGACY id touch exactly that row
    val upd = api.updateIncubating(rows, "inc-000000000007", Map("dep-a" -> "exec-9"))
    assert(upd.find(_.obj_id == "inc-000000000007").get.triggers("dep-a") == "exec-9")
    assert(upd.find(_.obj_id == "inc-000000000008-p").get.triggers("dep-b") == WaitRow.Waiting)
    assert(api.deleteIncubating(rows, "inc-000000000007")
      .map(_.obj_id).toSeq == Seq("inc-000000000008-p"))
    // and by the NEW-format id likewise
    assert(api.deleteIncubating(rows, "inc-000000000008-p")
      .map(_.obj_id).toSeq == Seq("inc-000000000007"))
  }

  // 5. cron id sub-range -------------------------------------------------
  test("cron origination ids occupy the documented -(minute*1e6 + i) sub-range") {
    val fired = Cron.fire(Fixtures.defs, Fixtures.ts("2024-02-01 03:00:10"))
    assert(fired.nonEmpty, "fixture cron must fire at 03:00")
    fired.foreach { ev =>
      val minute = Fixtures.ts("2024-02-01 03:00:10").getTime / 60000L
      assert(ev.event_id <= -(minute * 1000000L) &&
             ev.event_id > -(minute * 1000000L) - 1000000L,
        s"cron id ${ev.event_id} outside the documented sub-range for minute $minute")
      // disjoint from the manual (-epochMs ~ -1.7e12) magnitude band:
      // cron minutes * 1e6 ~ 2.8e13
      assert(math.abs(ev.event_id) > 1e13.toLong)
    }
  }
}
