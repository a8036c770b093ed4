package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.CountDownLatch

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders

import graft.GraftConfig
import graft.api.{Auth, GraftApi, GraftService, Journal, SecuredGraftApi}
import graft.meta.Fixtures
import graft.model.{LifecycleEvent, PipelineDef, Submission}
import graft.orchestration.{Catalog, EngineJob, EngineManager, LocalSparkEngine}

/** The deployable PROCESS, end-to-end (r6 verdict #1 — the
  * `facade.py:138-150` analog): one [[GraftService]] carrying the HTTP
  * facade, the MQ poll loop over a socket, the culler tick
  * and the cron tick, all sharing one incubation state and one engine
  * submission path.
  *
  * The flagship test walks the full lifecycle over real sockets: an
  * HTTP-posted success incubates an 'all'-triggered child; the second
  * parent's success arrives over the MQ SOCKET, is polled in,
  * satisfies the dependency set and releases; the released run is
  * visible through `/pipeline/dispatcher/running` while it runs;
  * clean shutdown is asserted (poll thread stopped, port closed,
  * idempotent).
  */
class GraftServiceSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val Admin = "admin-token"
  private val client = HttpClient.newHttpClient()

  private def call(base: String, method: String, path: String,
                   body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .header("Authorization", s"Bearer $Admin")
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def ts(s: String) = Fixtures.ts(s)

  /** Wall-clock event times: the service runs on the wall clock, and
    * the dispatcher's age-out cull measures incubation age from the
    * event — a 2024-stamped fixture time would age out instantly. */
  private def success(id: Long, pipeline: String): LifecycleEvent = {
    val now = new Timestamp(System.currentTimeMillis())
    LifecycleEvent(id, "job_exec_update", "success", pipeline, s"exec-$pipeline-$id",
      now, now, 0, disable_downstream = false)
  }

  /** Event → the exact JSON the ingest schema round-trips (Spark's own
    * row serializer, so timestamp encoding matches from_json). */
  private def asJson(ev: LifecycleEvent): String =
    spark.createDataset(Seq(ev))(Encoders.product[LifecycleEvent]).toJSON.head()

  private def poll(what: String, timeoutMs: Long = 30000)(ok: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ok && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(ok, s"timed out waiting for: $what")
  }

  private def newService(mq: Option[String], cfg: GraftConfig,
                         jobFactory: (Option[PipelineDef], Submission) => EngineJob,
                         now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                         cronCheck: FiniteDuration = 5.seconds,
                         pollInterval: FiniteDuration = 250.millis): GraftService = {
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))), cfg)
    val policy = new Auth.Policy(
      new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
    new GraftService(new SecuredGraftApi(api, policy), spark,
      mqEndpoint = mq,
      checkpointRoot = SparkSuite.tempDir("svc-ckpt"),
      quarantineDir = Some(SparkSuite.tempDir("svc-quarantine")),
      jobFactory = Some(jobFactory),
      cfg = cfg,
      pollInterval = pollInterval,
      cronCheckInterval = cronCheck,
      nowProvider = now)
  }

  test("full lifecycle: HTTP event -> incubation; MQ socket event -> release -> visible in /running; clean shutdown") {
    import org.apache.spark.sql.functions.col
    val broker = new MQBroker
    val gate = new CountDownLatch(1)
    // runs block on the latch so /running observes them mid-flight
    val service = newService(Some(broker.endpoint), GraftConfig.default,
      (_, _) => EngineJob.SparkClosure(_ => gate.await()))
    try {
      val addr = service.start(0)
      val base = s"http://127.0.0.1:${addr.getPort}"

      // 1. first parent succeeds over HTTP: the 'all'-triggered child
      //    (join-orders-customer) must incubate, not run
      val r1 = call(base, "POST", "/pipeline/dispatcher/event", asJson(success(1, "clean-orders")))
      assert(r1.statusCode() == 200)
      poll("child incubating after first dep") {
        service.facade.incubating.get()
          .where(col("pipeline_uuid") === "join-orders-customer").count() == 1
      }
      assert(call(base, "GET",
        "/pipeline/dispatcher/running?pipeline_uuid=join-orders-customer")
        .body() == "[]", "one satisfied dep of two must not release")
      // a later unrelated dispatch must not duplicate kept rows (the
      // r7 state-fold regression: kept state is a replacement)
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        asJson(success(11, "clean-lineitem"))).statusCode() == 200)
      assert(service.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").count() == 1,
        "kept incubation row duplicated by an unrelated dispatch")

      // 2. second parent succeeds over the MQ SOCKET: the poll loop
      //    ingests it, the shared state releases the child, the service
      //    submits it to its engine
      broker.publish(asJson(success(2, "clean-customer")))
      poll("released run visible via /pipeline/dispatcher/running") {
        val body = call(base, "GET",
          "/pipeline/dispatcher/running?pipeline_uuid=join-orders-customer").body()
        body.contains("\"join-orders-customer\"") && body.contains("\"running\"")
      }
      // incubation slot consumed
      assert(service.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").isEmpty)
      // the MQ event joined the event log like an HTTP-posted one. The
      // log append is the step's LAST act (after the submission the
      // poll above saw), so wait for it rather than race it
      poll("MQ event in the event log") {
        service.facade.eventLog.get()
          .where(col("pipeline_uuid") === "clean-customer").count() == 1
      }

      // 3. a malformed MQ message lands in the quarantine, not the log
      broker.publish("""{"this is": not json""")
      poll("corrupt message quarantined") {
        // quarantine writes one file per batch (replay idempotence)
        // — read the tree recursively
        val q = spark.read.option("recursiveFileLookup", "true")
          .text(service.quarantineDir.get).collect().map(_.getString(0))
        q.exists(_.contains("not json"))
      }

      // 4. run completes; terminal state observable through the facade
      gate.countDown()
      poll("run reaches success") {
        call(base, "GET",
          "/pipeline/dispatcher/running?statuses=success&pipeline_uuid=join-orders-customer")
          .body().contains("\"success\"")
      }

      // 5. graceful shutdown: poll thread stopped, port closed, idempotent
      service.shutdown()
      assert(!service.mqPolling, "the mq poll thread must be stopped")
      intercept[java.io.IOException] {
        call(base, "GET", "/sys/config")
      }
      service.shutdown() // idempotent
    } finally {
      service.shutdown()
      broker.stop()
    }
  }

  test("durable state: a restart resumes mid-lifecycle (first dep survives the process)") {
    import org.apache.spark.sql.functions.col
    // the reference's Mongo durability: dep 1 lands in service A, the
    // process dies, dep 2 lands in service B over the SAME checkpoint
    // root -> the child must release from the restored state
    val ckpt = SparkSuite.tempDir("svc-durable-ckpt")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def mkService(): GraftService = {
      val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
        Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
        GraftConfig.default)
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = None, checkpointRoot = ckpt,
        jobFactory = Some((_, sub) => { ran.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }))
    }
    val a = mkService()
    try {
      val baseA = s"http://127.0.0.1:${a.start(0).getPort}"
      assert(call(baseA, "POST", "/pipeline/dispatcher/event",
        asJson(success(21, "clean-orders"))).statusCode() == 200)
      assert(a.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").count() == 1)
      // lineage collapse: the persisted-and-reloaded state is a flat
      // parquet scan, not a union chain over the dispatch history.
      // POLLED, not asserted point-in-time: this thread reads the
      // AtomicReference outside the facade's dispatch lock, so a culler
      // tick can be mid-applyStep right now — its transient
      // newIncubating ∪ deferred union is published before persistState
      // swaps the collapsed reload in (same rows, un-collapsed plan;
      // observed once in ~40 full-suite runs, r12). Collapse is the
      // EVENTUAL invariant every mutation restores; poll it like the
      // spec's other cross-thread properties.
      poll("persisted state collapses to a single files-backed relation") {
        a.facade.incubating.get().queryExecution.logical.collectLeaves().length == 1
      }
    } finally a.shutdown()

    val b = mkService()
    try {
      val baseB = s"http://127.0.0.1:${b.start(0).getPort}"
      // restored: the first dep's partial wait is still there
      assert(b.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").count() == 1,
        "incubation state must survive the restart")
      assert(b.facade.eventLog.get()
        .where(col("pipeline_uuid") === "clean-orders").count() == 1,
        "event history must survive the restart")
      assert(call(baseB, "POST", "/pipeline/dispatcher/event",
        asJson(success(22, "clean-customer"))).statusCode() == 200)
      poll("restored child releases on the post-restart second dep") {
        ran.contains("join-orders-customer")
      }
      assert(b.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").isEmpty)
    } finally b.shutdown()
  }

  test("durable state: point deletes persist (no resurrection) and a restart does not re-fire a consumed cron minute") {
    import org.apache.spark.sql.functions.col
    val ckpt = SparkSuite.tempDir("svc-durable2-ckpt")
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fixed = ts("2024-02-01 00:00:30") // ingest-orders' '0 0 * * *' is due
    def mkService(): GraftService = {
      val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
        Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
        GraftConfig.default)
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = None, checkpointRoot = ckpt,
        jobFactory = Some((_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }),
        cronCheckInterval = 200.millis,
        nowProvider = () => fixed)
    }
    val a = mkService()
    try {
      val base = s"http://127.0.0.1:${a.start(0).getPort}"
      poll("cron fires in service A")(fired.contains("ingest-orders"))
      // incubate a child, then DELETE it through the point op
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        asJson(success(31, "clean-orders"))).statusCode() == 200)
      val objId = a.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer")
        .select("obj_id").collect().head.getString(0)
      assert(call(base, "DELETE",
        s"/pipeline/incubation/delete?obj_id=$objId").statusCode() == 200)
      assert(a.facade.incubating.get().isEmpty)
    } finally a.shutdown()

    val firesBefore = fired.size
    val b = mkService()
    try {
      b.start(0)
      // the deleted row must NOT resurrect from an earlier generation
      assert(b.facade.incubating.get().isEmpty,
        "a point-deleted incubation row resurrected across restart")
      // the already-consumed cron minute must not re-fire
      Thread.sleep(1000)
      assert(fired.size == firesBefore,
        s"restart re-fired cron within a consumed minute: $fired")
    } finally b.shutdown()
  }

  test("durable state: a step that leaves the incubation rows unchanged journals no delta; a deferral journals one") {
    import org.apache.spark.sql.functions.col
    val ckpt = SparkSuite.tempDir("svc-persist-ckpt")
    val journalDir = java.nio.file.Paths.get(ckpt, "service-state", "journal")
    def origination(id: Long, pipeline: String): LifecycleEvent =
      success(id, pipeline).copy(event_subtype = "origination", exec_uuid = s"manual-$pipeline-$id")
    def batch(evs: LifecycleEvent*): String = evs.map(asJson).mkString("[", ",", "]")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
      GraftConfig.default)
    val policy = new Auth.Policy(
      new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
    // no culler or cron tick inside the test: only the posted steps journal
    val service = new GraftService(new SecuredGraftApi(api, policy), spark,
      mqEndpoint = None, checkpointRoot = ckpt,
      jobFactory = Some((_, sub) => { ran.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }),
      cfg = GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
      cronCheckInterval = 1.hour)
    // every journal record so far, oldest first
    def records(): Seq[Journal.Record] =
      if (!java.nio.file.Files.exists(journalDir)) Nil
      else java.nio.file.Files.list(journalDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".jsonl")).sortBy(_.getFileName.toString)
        .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.filter(_.nonEmpty))
        .map(service.facade.codec.record)
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      assert(records().isEmpty, "a start on a fresh root writes nothing")
      // 1. two same-batch originations of a concurrency=false pipeline:
      //    the first submits, the second defers -> one record, one added row
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        batch(origination(51, "report-weekly"), origination(52, "report-weekly"))).statusCode() == 200)
      assert(service.facade.incubating.get()
        .where(col("pipeline_uuid") === "report-weekly" && col("reason") === "concurrency").count() == 1)
      val r1 = records()
      assert(r1.size == 1, "the batch is one record")
      assert(r1.last.events.map(_.event_id) == Seq(51L, 52L))
      assert(r1.last.added.map(_.pipeline_uuid) == Seq("report-weekly"), "a deferral must journal its row")
      assert(r1.last.outbox.map(_.exec_uuid) == Seq("exec-report-weekly-51"))
      // 2. a direct-submit origination leaves the rows as they were:
      //    its record holds the event and the run, and no delta
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        asJson(origination(53, "solo-maintenance"))).statusCode() == 200)
      assert(ran.contains("solo-maintenance"))
      assert(service.facade.incubating.get().count() == 1)
      val r2 = records()
      assert(r2.size == 2)
      assert(r2.last.added.isEmpty && r2.last.removed.isEmpty,
        s"an unchanged state must not journal a delta: ${r2.last}")
      assert(r2.last.outbox.map(_.pipeline_uuid) == Seq("solo-maintenance"))
      // a cull step that changes nothing and accepts no event writes nothing
      service.facade.cullStep(new Timestamp(System.currentTimeMillis()))
      assert(records().size == 2, "an empty, unchanged step must write no record")
      // 3. another deferral journals another added row
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        batch(origination(54, "report-monthly"), origination(55, "report-monthly"))).statusCode() == 200)
      assert(service.facade.incubating.get().count() == 2)
      assert(records().size == 3 && records().last.added.map(_.pipeline_uuid) == Seq("report-monthly"))
    } finally service.shutdown()
  }

  test("culler tick: an incubating partial ages out with no release, no new events needed") {
    import org.apache.spark.sql.functions.col
    val submitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val cfg = GraftConfig.default.copy(
      cullingIntervalSeconds = 1L, incubatingJobAgeOutSeconds = 1L)
    val service = newService(None, cfg,
      (_, _) => { submitted.incrementAndGet(); EngineJob.SparkClosure(_ => ()) })
    try {
      val addr = service.start(0)
      val base = s"http://127.0.0.1:${addr.getPort}"
      assert(call(base, "POST", "/pipeline/dispatcher/event",
        asJson(success(10, "clean-orders"))).statusCode() == 200)
      assert(service.facade.incubating.get()
        .where(col("pipeline_uuid") === "join-orders-customer").count() == 1)
      // the wall-clock culler tick must age the partial out on its own
      poll("age-out cull of the idle partial") {
        service.facade.incubating.get().isEmpty
      }
      assert(submitted.get() == 0,
        "an aged-out dependency wait must be dropped, never submitted")
    } finally service.shutdown()
  }

  test("catalog durability: an HTTP upsert, a delete and a flush survive a restart and a compaction through the journal alone") {
    val ckpt = SparkSuite.tempDir("svc-catalog-ckpt")
    // every incarnation is built over the fixtures, not over the catalog
    // the last one left, so only the journal can carry the changes
    def mkService(): GraftService = {
      val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
        new EngineManager(Seq(new LocalSparkEngine(spark))), GraftConfig.default)
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = None, checkpointRoot = ckpt,
        jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())))
    }
    val upsert =
      """{"def":{"pipeline_uuid":"durable-new","description":"via http","retry_max":0,
        |"concurrency":true,"engine":"spark-local","engine_args":"{}",
        |"triggers_op":"any","tags_team":"t","tags_env":"dev","pipeline_body":"{}"},
        |"triggers":[{"pipeline_uuid":"durable-new","trigger_uuid":"report-daily","op":"any"}]}"""
        .stripMargin
    def assertChanged(base: String, when: String): Unit = {
      assert(call(base, "GET",
        "/pipeline/config/describe?pipeline_uuid=durable-new").body().contains("durable-new"),
        s"HTTP-created pipeline must survive $when")
      assert(call(base, "GET", "/pipeline/config/downstream?pipeline_uuid=report-daily").body()
        .contains("durable-new"), s"its trigger row must survive $when")
      assert(call(base, "GET",
        "/pipeline/config/describe?pipeline_uuid=legacy_import_v2").body() == "[]",
        s"HTTP-deleted pipeline must stay deleted after $when")
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=adhoc-task-0").body() == "[]",
        s"HTTP-flushed pipelines must stay flushed after $when")
    }
    val a = mkService()
    try {
      val base = s"http://127.0.0.1:${a.start(0).getPort}"
      assert(call(base, "POST", "/pipeline/config/create_or_replace", upsert).statusCode() == 200)
      assert(call(base, "DELETE",
        "/pipeline/config/delete?pipeline_uuid=legacy_import_v2&safe_delete=false")
        .statusCode() == 200)
      assert(call(base, "DELETE", "/pipeline/config/flush?pipeline_prefix=adhoc-task-0")
        .statusCode() == 200)
      assertChanged(base, "the mutations")
    } finally a.shutdown()

    val b = mkService()
    try {
      val base = s"http://127.0.0.1:${b.start(0).getPort}"
      assertChanged(base, "a restart")
      b.cullTick() // the catalog moves from the segments into the snapshot
      val journal = new java.io.File(ckpt, "service-state/journal").list().toSeq
      assert(journal.exists(_.startsWith("snapshot-")) && !journal.exists(_.endsWith(".jsonl")),
        s"compacted: $journal")
    } finally b.shutdown()

    val c = mkService()
    try {
      val base = s"http://127.0.0.1:${c.start(0).getPort}"
      assertChanged(base, "a compaction")
      // 40 fixtures, one deleted, ten flushed, one added
      assert(call(base, "POST", "/pipeline/config/list").body()
        .split("\"pipeline_uuid\"").length - 1 == 30)
    } finally c.shutdown()
  }

  test("MQ resume: a restart re-ingests nothing (checkpointed offsets), new messages still flow") {
    // at-least-once becomes exactly-once-per-offset across restarts:
    // service A ingests message 1 and dies; service B over the SAME
    // checkpoint root must NOT re-dispatch message 1 (which would
    // resubmit the run), and must still ingest message 2
    val broker = new MQBroker
    val ckpt = SparkSuite.tempDir("svc-mq-resume-ckpt")
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def mkApi() = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
      GraftConfig.default)
    def mkService(api: GraftApi): GraftService = {
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = Some(broker.endpoint), checkpointRoot = ckpt,
        jobFactory = Some((_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }),
        pollInterval = 250.millis)
    }
    val apiA = mkApi()
    val a = mkService(apiA)
    try {
      a.start(0)
      // an origination for a known pipeline submits immediately
      broker.publish(asJson(success(41, "x").copy(
        event_subtype = "origination", pipeline_uuid = "report-weekly")))
      poll("message 1 dispatched in service A")(fired.contains("report-weekly"))
      // the run ends before the process does: a run still open at
      // shutdown is resubmitted by the restart, which is not a replay
      poll("run ended") {
        val rows = apiA.engines.allRows(spark)
        rows.nonEmpty && rows.forall(_.engine_status != "running")
      }
    } finally a.shutdown()

    val countAfterA = fired.size
    val b = mkService(mkApi())
    try {
      b.start(0)
      broker.publish(asJson(success(42, "x").copy(
        event_subtype = "origination", pipeline_uuid = "stream-metrics")))
      poll("message 2 dispatched in service B")(fired.contains("stream-metrics"))
      assert(fired.asScala.count(_ == "report-weekly") == 1,
        s"message 1 must not re-dispatch after restart: $fired")
      assert(fired.size == countAfterA + 1)
    } finally {
      b.shutdown()
      broker.stop()
    }
  }

  /** A service with NO injected jobFactory — the built-in data-plane
    * interpreter runs whatever the def's engine_args name. */
  private def newDataPlaneService(): GraftService = {
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
      GraftConfig.default)
    val policy = new Auth.Policy(
      new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
    new GraftService(new SecuredGraftApi(api, policy), spark,
      mqEndpoint = None, checkpointRoot = SparkSuite.tempDir("svc-dataplane-ckpt"))
  }

  private def upsertBody(uuid: String, engineArgs: String,
                         triggersOp: Option[String] = None,
                         triggers: Seq[(String, String)] = Nil): String = {
    val escaped = engineArgs.replace("\"", "\\\"")
    val op = triggersOp.map(o => s""""triggers_op":"$o",""").getOrElse("")
    val trig = triggers.map { case (child, parent) =>
      s"""{"pipeline_uuid":"$child","trigger_uuid":"$parent","op":"${triggersOp.getOrElse("any")}"}"""
    }.mkString(",")
    s"""{"def":{"pipeline_uuid":"$uuid","description":"data-plane spec","retry_max":0,
       |"concurrency":true,"engine":"spark-local","engine_args":"$escaped",
       |$op"tags_team":"t","tags_env":"dev","pipeline_body":"{}"},
       |"triggers":[$trig]}""".stripMargin
  }

  test("data plane: engine_args names a registered graft query -> curated parquet + success callback + downstream trigger (r7 verdict #1)") {
    import org.apache.spark.sql.functions.col
    val outDir = SparkSuite.tempDir("svc-dataplane-out")
    val inDir = "/root/testdata/sf0.001"
    val service = newDataPlaneService()
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      // the data def: its engine_args map the reference's
      // pipeline_command/pipeline_args keys onto a registered operator
      val engineArgs =
        s"""{"pipeline_command":["graft-query"],"pipeline_args":["ns_text_quality_filter","$inDir","$outDir"]}"""
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("quality-gate", engineArgs)).statusCode() == 200)
      // a downstream def triggered by the data def's success
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("curated-report", "{}", triggersOp = Some("any"),
          triggers = Seq("curated-report" -> "quality-gate"))).statusCode() == 200)

      // manual run: EP1 step 6 end to end
      assert(call(base, "POST",
        "/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=quality-gate")
        .statusCode() == 200)

      // 1. the run writes the query's parquet under <out>/<exec_uuid>
      poll("curated parquet written by the dispatched run") {
        val subdirs = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        subdirs.exists(d => new java.io.File(d, "_SUCCESS").exists())
      }
      val execDir = new java.io.File(outDir).listFiles()
        .find(d => new java.io.File(d, "_SUCCESS").exists()).get
      val written = spark.read.parquet(execDir.getAbsolutePath)
      val expected = SparkEntry.queries("ns_text_quality_filter")(spark, inDir)
      assert(written.count() == expected.count() && written.count() > 0,
        "the run's output must be the registered query's result")
      assert(written.columns.sorted.sameElements(expected.columns.sorted))

      // 2. the run posted its OWN success event through the shared ingress
      poll("success callback in the event log") {
        service.facade.eventLog.get()
          .where(col("pipeline_uuid") === "quality-gate" &&
            col("event_subtype") === "success").count() == 1
      }
      // 3. ...which released the downstream def (P2 fan-out off a real
      // run). The downstream's no-op body finishes in milliseconds, so
      // query across terminal statuses too — polling the default
      // running/waiting/pending window races the run's completion.
      poll("downstream pipeline submitted off the data run's success") {
        call(base, "GET",
          "/pipeline/dispatcher/running?statuses=running,waiting,pending,success&pipeline_uuid=curated-report")
          .body().contains("\"curated-report\"")
      }
    } finally service.shutdown()
  }

  test("data plane: a run leaves no memo behind, so the next run over a rewritten input dir reads the new data") {
    import org.apache.spark.sql.functions.col
    val inDir = SparkSuite.tempDir("svc-dataplane-rewrite-in")
    val outDir = SparkSuite.tempDir("svc-dataplane-rewrite-out")
    val docs = s"$inDir/documents.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(SparkSuite.sfDir, "documents.parquet"),
      java.nio.file.Paths.get(docs))
    val service = newDataPlaneService()
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      val engineArgs =
        s"""{"pipeline_command":["graft-query"],"pipeline_args":["ns_text_quality_filter","$inDir","$outDir"]}"""
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("quality-rewrite", engineArgs)).statusCode() == 200)
      // (exec_uuid, success|failure) of every finished run
      def finished(): Map[String, String] =
        service.facade.eventLog.get()
          .where(col("pipeline_uuid") === "quality-rewrite" &&
            col("event_subtype").isin("success", "failure"))
          .collect().map(e => e.exec_uuid -> e.event_subtype).toMap
      def runOnce(n: Int): Unit = {
        assert(call(base, "POST",
          "/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=quality-rewrite")
          .statusCode() == 200)
        poll(s"run $n finished", timeoutMs = 60000)(finished().size == n)
      }
      runOnce(1)
      val first = finished()
      // an upstream rewrites the input in place with fewer rows
      val source = spark.read.parquet(s"${SparkSuite.sfDir}/documents.parquet")
      val n0 = source.count()
      source.orderBy("doc_id").limit((n0 / 2).toInt).write.mode("overwrite").parquet(docs)
      runOnce(2)
      val (exec2, status2) = (finished() -- first.keySet).head
      assert(first.values.toSeq == Seq("success") && status2 == "success",
        s"both runs must succeed: first $first, second $status2")
      graft.operators.OpMemo.invalidate(spark, Some(inDir))
      val expected = SparkEntry.queries("ns_text_quality_filter")(spark, inDir)
        .orderBy("doc_id").collect().toSeq
      val written = spark.read.parquet(s"$outDir/$exec2").orderBy("doc_id").collect().toSeq
      assert(expected.size == n0 / 2 && written == expected,
        s"the second run must read the rewritten input: ${written.size} rows, expected ${expected.size}")
    } finally service.shutdown()
  }

  test("data plane CHAIN: quality -> dedup -> pack, each stage consuming the previous stage's parquet (r8 verdict #2)") {
    import org.apache.spark.sql.functions.col
    val inDir = "/root/testdata/sf0.001"
    val out1 = SparkSuite.tempDir("dag-out1")
    val out2 = SparkSuite.tempDir("dag-out2")
    val out3 = SparkSuite.tempDir("dag-out3")
    val service = newDataPlaneService()
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      def queryArgs(args: String*): String =
        s"""{"pipeline_command":["graft-query"],"pipeline_args":[${args.map("\"" + _ + "\"").mkString(",")}]}"""
      // stage 1 materializes the curated corpus AS a documents table;
      // stages 2/3 bind their input to the upstream's newest completed
      // run at dispatch time (graft-run:), so the defs stay static
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("stage-quality",
          queryArgs("ns_stage_quality_docs", inDir, out1, "documents"))).statusCode() == 200)
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("stage-dedup",
          queryArgs("ns_stage_dedup_docs", s"graft-run:$out1", out2, "documents"),
          triggersOp = Some("any"),
          triggers = Seq("stage-dedup" -> "stage-quality"))).statusCode() == 200)
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("stage-pack",
          queryArgs("ns_text_pack", s"graft-run:$out2", out3),
          triggersOp = Some("any"),
          triggers = Seq("stage-pack" -> "stage-dedup"))).statusCode() == 200)

      // ONE manual dispatch at the head; everything else must cascade
      // off success callbacks (P2 fan-out from real data runs)
      assert(call(base, "POST",
        "/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=stage-quality")
        .statusCode() == 200)

      def execDirs(out: String): Seq[java.io.File] =
        Option(new java.io.File(out).listFiles()).getOrElse(Array.empty).toSeq
      def completed(out: String): Option[java.io.File] =
        execDirs(out).find { d =>
          new java.io.File(d, "_SUCCESS").exists() ||
            Option(d.listFiles()).getOrElse(Array.empty)
              .exists(t => t.getName.endsWith(".parquet") && new java.io.File(t, "_SUCCESS").exists())
        }
      poll("terminal stage-3 artifact", timeoutMs = 120000)(completed(out3).nonEmpty)

      // stage 1 == the registered query over the corpus
      val stage1 = spark.read.parquet(s"${completed(out1).get}/documents.parquet")
      val expected1 = SparkEntry.queries("ns_stage_quality_docs")(spark, inDir)
      assert(stage1.count() == expected1.count() && stage1.count() > 0)

      // stage 2 DERIVES from stage 1's artifact: survivor set ⊆ stage-1
      // docs and equals the dedup query run over stage 1's output dir
      val stage2Dir = completed(out2).get.getAbsolutePath
      val stage2 = spark.read.parquet(s"$stage2Dir/documents.parquet")
      val s1Ids = stage1.select("doc_id").collect().map(_.getLong(0)).toSet
      val s2Ids = stage2.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s2Ids.nonEmpty && s2Ids.subsetOf(s1Ids),
        "stage-2 survivors must come from stage-1's curated corpus")
      val expected2 = SparkEntry.queries("ns_stage_dedup_docs")(
        spark, completed(out1).get.getAbsolutePath)
      assert(stage2.count() == expected2.count())

      // stage 3 == packing the stage-2 corpus (the terminal report is
      // a function of the chain's real intermediate artifact)
      val stage3 = spark.read.parquet(completed(out3).get.getAbsolutePath)
      val expected3 = SparkEntry.queries("ns_text_pack")(spark, stage2Dir)
      assert(stage3.count() == expected3.count() && stage3.count() > 0)
      val got = stage3.orderBy("lang", "bin").collect().map(_.toSeq).toSeq
      val want = expected3.orderBy("lang", "bin").collect().map(_.toSeq).toSeq
      assert(got == want, "terminal pack report must match packing stage-2's corpus")

      // all three stages posted success callbacks through the ingress
      poll("three success events in the log") {
        service.facade.eventLog.get()
          .where(col("event_subtype") === "success" &&
            col("pipeline_uuid").isin("stage-quality", "stage-dedup", "stage-pack"))
          .select("pipeline_uuid").distinct().count() == 3
      }
    } finally service.shutdown()
  }

  test("data plane: an unknown query name fails the run and posts a failure event (the P3 retry-gate input)") {
    import org.apache.spark.sql.functions.col
    val service = newDataPlaneService()
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      val engineArgs =
        """{"pipeline_command":["graft-query"],"pipeline_args":["no_such_query","/tmp/in","/tmp/out"]}"""
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("bad-query", engineArgs)).statusCode() == 200)
      assert(call(base, "POST",
        "/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=bad-query")
        .statusCode() == 200)
      poll("failure callback in the event log") {
        service.facade.eventLog.get()
          .where(col("pipeline_uuid") === "bad-query" &&
            col("event_subtype") === "failure").count() == 1
      }
      poll("engine stamps the run failed") {
        call(base, "GET",
          "/pipeline/dispatcher/running?statuses=failed&pipeline_uuid=bad-query")
          .body().contains("\"failed\"")
      }
    } finally service.shutdown()
  }

  test("data plane: a malformed graft-query command (wrong arity) fails the run — never a silent no-op success") {
    import org.apache.spark.sql.functions.col
    val service = newDataPlaneService()
    try {
      val base = s"http://127.0.0.1:${service.start(0).getPort}"
      val engineArgs =
        """{"pipeline_command":["graft-query"],"pipeline_args":["ns_text_quality_filter"]}"""
      assert(call(base, "POST", "/pipeline/config/create_or_replace",
        upsertBody("short-args", engineArgs)).statusCode() == 200)
      assert(call(base, "POST",
        "/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=short-args")
        .statusCode() == 200)
      poll("failure callback for the malformed command") {
        service.facade.eventLog.get()
          .where(col("pipeline_uuid") === "short-args" &&
            col("event_subtype") === "failure").count() == 1
      }
    } finally service.shutdown()
  }

  test("MQ at-least-once: a redelivered event_id is a no-op (no duplicate history, no re-dispatch) (r7 advice)") {
    import org.apache.spark.sql.functions.col
    val broker = new MQBroker
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val service = newService(Some(broker.endpoint), GraftConfig.default,
      (_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) })
    try {
      service.start(0)
      val msg = asJson(success(51, "x").copy(
        event_subtype = "origination", pipeline_uuid = "report-weekly"))
      broker.publish(msg)
      poll("first delivery dispatched")(fired.contains("report-weekly"))
      // SQS-style redelivery: the same event_id arrives again, plus a
      // marker event proving the later batch was fully processed
      broker.publish(msg)
      broker.publish(asJson(success(52, "x").copy(
        event_subtype = "origination", pipeline_uuid = "stream-metrics")))
      poll("marker event dispatched")(fired.contains("stream-metrics"))
      assert(fired.asScala.count(_ == "report-weekly") == 1,
        s"a redelivered event_id must not re-dispatch: $fired")
      assert(service.facade.eventLog.get()
        .where(col("event_id") === 51L).count() == 1,
        "a redelivered event_id must not duplicate history rows")
    } finally {
      service.shutdown()
      broker.stop()
    }
  }

  test("MQ dedup after a restart: a replayed batch inside the horizon is a no-op") {
    import org.apache.spark.sql.functions.col
    // the replay a checkpoint rewind delivers: the same batch, probed by
    // the next incarnation against the ids it read back from the log
    val ckpt = SparkSuite.tempDir("svc-dedup-ckpt")
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def mkApi() = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
      GraftConfig.default)
    def mkService(api: GraftApi): GraftService = {
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = None, checkpointRoot = ckpt,
        jobFactory = Some((_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }))
    }
    def cutoff(now: Timestamp) =
      new Timestamp(now.getTime - GraftConfig.default.mqDedupHorizonDays * 86400000L)
    val batch = Seq(success(61, "x").copy(event_subtype = "origination", pipeline_uuid = "report-weekly"))
    val apiA = mkApi()
    val a = mkService(apiA)
    try {
      a.start(0)
      val now = new Timestamp(System.currentTimeMillis())
      assert(a.facade.ingestDedup(batch.map(_.copy(received_time = now)), now, cutoff(now)).size == 1)
      // the run ends before the process does: a run still open at
      // shutdown is resubmitted by the restart, which is not a replay
      poll("run ended") {
        val rows = apiA.engines.allRows(spark)
        rows.nonEmpty && rows.forall(_.engine_status != "running")
      }
    } finally a.shutdown()
    assert(fired.asScala.toSeq == Seq("report-weekly"))

    val b = mkService(mkApi())
    try {
      b.start(0)
      val now = new Timestamp(System.currentTimeMillis())
      val marker = success(62, "x").copy(event_subtype = "origination", pipeline_uuid = "stream-metrics")
      val fresh = b.facade.ingestDedup((batch :+ marker).map(_.copy(received_time = now)), now, cutoff(now))
      assert(fresh.map(_.event_id) == Seq(62L), s"the replayed id must be dropped: $fresh")
      poll("marker dispatched")(fired.contains("stream-metrics"))
      assert(fired.asScala.count(_ == "report-weekly") == 1, s"a replay must not re-dispatch: $fired")
      assert(b.facade.eventLog.get().where(col("event_id") === 61L).count() == 1,
        "a replay must not duplicate history rows")
    } finally b.shutdown()
  }

  test("cron tick: a due schedule originates and submits through the same path, at most once per minute") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // fixed clock at a minute matching ingest-orders' '0 0 * * *'
    val fixed = ts("2024-02-01 00:00:30")
    val service = newService(None, GraftConfig.default,
      (d, sub) => { ran.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) },
      now = () => fixed, cronCheck = 300.millis)
    try {
      val addr = service.start(0)
      val base = s"http://127.0.0.1:${addr.getPort}"
      poll("cron origination submitted") {
        ran.contains("ingest-orders")
      }
      // the clock never leaves the minute: repeated checks must not re-fire
      Thread.sleep(1500)
      assert(ran.size == 1, s"cron must fire once per due minute, got $ran")
      // and the run surfaced in the shared engine state
      poll("cron run visible via /running") {
        call(base, "GET",
          "/pipeline/dispatcher/running?statuses=success,running&pipeline_uuid=ingest-orders")
          .body().contains("\"ingest-orders\"")
      }
    } finally service.shutdown()
  }

  test("MQ poll loop: a failing endpoint degrades health, recovery resumes from the journaled offset, shutdown interrupts a pending long-poll") {
    // the reference's poller logs and continues (mq_poller.py:27): a
    // failed turn backs off and retries from the offset the journal
    // holds, so nothing committed is applied twice and nothing is lost
    val broker = new MQBroker
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val svc = newService(Some(broker.endpoint), GraftConfig.default,
      (_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) })
    try {
      val addr = svc.start(0)
      val base = s"http://127.0.0.1:${addr.getPort}"
      def health: String = call(base, "GET", "/sys/config").body()
      broker.publish(asJson(success(81, "x").copy(
        event_subtype = "origination", pipeline_uuid = "report-weekly")))
      poll("message 1 dispatched")(fired.contains("report-weekly"))
      assert(health.contains("\"mq_ingest_health\":\"ok\""), health)

      broker.failing = true
      broker.publish(asJson(success(82, "x").copy(
        event_subtype = "origination", pipeline_uuid = "stream-metrics")))
      poll("failing turns surface on /sys/config")(health.contains("\"mq_ingest_health\":\"failing: "))
      assert(!fired.contains("stream-metrics"), "a failing endpoint delivers nothing")
      val res = call(base, "POST", "/sys/config?action=clear_mq_ingest_health")
      assert(res.statusCode() == 200, s"admin clear must succeed: ${res.body()}")
      assert(res.body().contains("cleared:"), res.body())
      // unknown action -> 400, not a silent no-op
      assert(call(base, "POST", "/sys/config?action=nope").statusCode() == 400)

      broker.failing = false
      poll("message 2 dispatched after recovery")(fired.contains("stream-metrics"))
      poll("health reads ok again")(health.contains("\"mq_ingest_health\":\"ok\""))
      assert(fired.asScala.count(_ == "report-weekly") == 1,
        s"recovery must not re-dispatch the committed message: $fired")
      assert(svc.journal.mqOffset.contains(2L), s"journaled offset: ${svc.journal.mqOffset}")
    } finally {
      svc.shutdown()
      broker.stop()
    }

    // shutdown inside its grace while the loop waits in a long-poll
    val idle = new MQBroker
    val waiter = newService(Some(idle.endpoint), GraftConfig.default,
      (_, _) => EngineJob.SparkClosure(_ => ()), pollInterval = 60.seconds)
    try {
      waiter.start(0)
      poll("poll thread running")(waiter.mqPolling)
      Thread.sleep(500) // now inside its 60 s wait at the broker
      val t0 = System.nanoTime()
      waiter.shutdown(5000L)
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(ms < 5000L, s"shutdown took $ms ms with a 5000 ms grace")
      assert(!waiter.mqPolling, "the mq poll thread must be stopped")
    } finally {
      waiter.shutdown()
      idle.stop()
    }
  }

  test("MQ upgrade: a root with only a streaming checkpoint resumes after its last committed batch, and reads it only until an offset is journaled") {
    // a root written by the Structured Streaming ingest: its offsets live
    // in Spark's checkpoint layout, the journal holds none. Without the
    // import an upgraded service starts at 0 and re-dispatches every
    // message older than the dedup horizon.
    val broker = new MQBroker
    val root = SparkSuite.tempDir("svc-mq-upgrade-ckpt")
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def origination(id: Long, p: String) =
      asJson(success(id, "x").copy(event_subtype = "origination", pipeline_uuid = p))
    def write(rel: String, body: String): Unit = {
      val p = java.nio.file.Path.of(root, "mq-ingest", rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    def offsets(end: String) =
      "v1\n{\"batchWatermarkMs\":0,\"batchTimestampMs\":1706742000000,\"conf\":{}}\n" + end + "\n"
    write("metadata", "{\"id\":\"0b6e3f56-0000-4000-8000-000000000000\"}\n")
    write("offsets/0", offsets("1"))
    write("commits/0", "v1\n{\"nextBatchWatermarkMs\":0}\n")
    write("offsets/1", offsets("3"))
    write("commits/1", "v1\n{\"nextBatchWatermarkMs\":0}\n")
    write("commits/.1.crc", "crc")
    write("offsets/2", offsets("4")) // planned, never committed: replays
    Seq("ingest-orders", "ingest-customer", "ingest-lineitem", "report-daily").zipWithIndex
      .foreach { case (p, i) => broker.publish(origination(90L + i, p)) }
    def mkService(): GraftService = {
      val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
        Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))),
        GraftConfig.default)
      val policy = new Auth.Policy(
        new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty)
      new GraftService(new SecuredGraftApi(api, policy), spark,
        mqEndpoint = Some(broker.endpoint), checkpointRoot = root,
        jobFactory = Some((_, sub) => { fired.add(sub.pipeline_uuid); EngineJob.SparkClosure(_ => ()) }),
        pollInterval = 250.millis)
    }
    val a = mkService()
    try {
      a.start(0)
      poll("the uncommitted batch's message dispatched")(fired.contains("report-daily"))
      broker.publish(origination(94L, "stream-metrics"))
      poll("a new message dispatched")(fired.contains("stream-metrics"))
      assert(fired.asScala.toSeq.sorted == Seq("report-daily", "stream-metrics"),
        s"no committed message may dispatch again: $fired")
      assert(a.journal.mqOffset.contains(5L))
    } finally a.shutdown()

    // the journal holds the offset now: a checkpoint that could not even
    // be read is never opened again
    write("offsets/9", offsets("not-an-offset"))
    write("commits/9", "v1\n{\"nextBatchWatermarkMs\":0}\n")
    val b = mkService()
    try {
      b.start(0)
      broker.publish(origination(95L, "report-monthly"))
      poll("a message after the restart dispatched")(fired.contains("report-monthly"))
      assert(fired.size == 3, s"nothing replays after the restart: $fired")
    } finally {
      b.shutdown()
      broker.stop()
    }
  }
}
