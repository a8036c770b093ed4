package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Auth, GraftApi, GraftService, HttpFacade, SecuredGraftApi}
import graft.meta.Fixtures
import graft.model.{LifecycleEvent, RunningJob, Submission}
import graft.orchestration.{Catalog, EngineBackend, EngineJob, EngineManager, EventLog, LocalSparkEngine}

/** Drift guard: one dispatcher. Every ingress (HTTP, MQ poll, culler
  * and cron ticks) reaches `GraftApi.dispatchRows` → `Dispatcher.step`,
  * and only `Dispatcher.step` folds the incubation state machine per
  * key. A second caller of either is a second dispatcher whose routing
  * and concurrency gate drift from the real one, so it fails here. MQ
  * ingest is a driver poll loop, so main code starts no streaming query
  * at all. And the control plane runs on the
  * driver, in one representation: the catalog is driver rows, typed as
  * a Dataset only at the construction boundary; an event POST, the
  * catalog mutations and the read routes start no Spark job, and
  * neither does the service's durability, on the ack path or for a
  * catalog mutation: the journal is its one durable store, so no other
  * control-plane file writes parquet. The concurrency gate reads the
  * journal's open runs: a step reads the engines only when the gate
  * would defer a candidate behind one. */
class DispatcherGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")

  /** Main files whose text calls `pattern`, relative to `root`. */
  private def callers(pattern: scala.util.matching.Regex): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined)
      .map((p: Path) => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("StateMachine.stepKey is called only from Dispatcher.scala") {
    // a call, not the `def` in StateMachine.scala
    assert(callers("""(?<!def )\bstepKey\(""".r) ==
      Seq(Paths.get("graft", "orchestration", "Dispatcher.scala").toString))
  }

  test("Dispatcher.step is called only from GraftApi.scala") {
    assert(callers("""\bDispatcher\.step\(""".r) ==
      Seq(Paths.get("graft", "api", "GraftApi.scala").toString))
  }

  test("no main file calls .writeStream or .readStream") {
    assert(callers("""\.(readStream|writeStream)\b""".r) == Nil)
  }

  test("only Fixtures and the Catalog/GraftApi construction boundary type the catalog as a Dataset") {
    assert(callers("""\bDataset\[Pipeline(Def|Trigger)\]""".r) == Seq(
      Paths.get("graft", "api", "GraftApi.scala").toString,
      Paths.get("graft", "meta", "Fixtures.scala").toString,
      Paths.get("graft", "orchestration", "Catalog.scala").toString))
  }

  test("under api and orchestration, only GraftService.scala writes parquet through .write.mode (compaction and the data-plane job)") {
    val scoped = callers("""\.write\.mode\(""".r).filter(f =>
      Seq("api", "orchestration").exists(d => f.startsWith(Paths.get("graft", d).toString + java.io.File.separator)))
    assert(scoped == Seq(Paths.get("graft", "api", "GraftService.scala").toString))
  }

  test("HttpFacade.scala parses and answers without Spark (no spark.read, no toJSON)") {
    val src = new String(Files.readAllBytes(
      root.resolve(Paths.get("graft", "api", "HttpFacade.scala"))), StandardCharsets.UTF_8)
    assert(!src.contains("spark.read") && !src.contains("toJSON"))
  }

  private val admin = "admin-token"
  private def secured(api: GraftApi) = new SecuredGraftApi(api, new Auth.Policy(
    new Auth.StaticTokenVerifier(Map(admin -> Seq("Data-Admin"))), apiTokens = Set.empty))

  /** An authorized request that must answer 200; its body. */
  private def call(base: String, method: String, path: String, body: String = ""): String = {
    val res = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .method(method, if (body.isEmpty) java.net.http.HttpRequest.BodyPublishers.noBody()
          else java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .header("Authorization", s"Bearer $admin").build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(res.statusCode() == 200, s"$method $path -> ${res.body()}")
    res.body()
  }

  private def event(id: Long, subtype: String) =
    s"""{"event_id":$id,"event_type":"job_exec_update","event_subtype":"$subtype",""" +
      s""""pipeline_uuid":"ingest-orders","exec_uuid":"exec-ingest-orders-$id",""" +
      """"retry_count":0,"disable_downstream":false}"""

  /** Upsert `i` of a chain: guard-000 triggers on ingest-orders, each
    * next one on the last. */
  private def guardUpsert(i: Int): String = {
    val parent = if (i == 0) "ingest-orders" else f"guard-${i - 1}%03d"
    f"""{"def":{"pipeline_uuid":"guard-$i%03d","description":"guard","retry_max":0,""" +
      """"concurrency":false,"engine":"spark-local","engine_args":"{}","triggers_op":"any"},""" +
      f""""triggers":[{"pipeline_uuid":"guard-$i%03d","trigger_uuid":"$parent","op":"any"}]}"""
  }

  /** The Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    val spark = SparkSuite.spark
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bench.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; Bench.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("standalone facade: an origination, its success and the describe/running/history reads start no Spark job") {
    val spark = SparkSuite.spark
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val facade = new HttpFacade(secured(api), spark)
    val base = s"http://127.0.0.1:${facade.start(0).getPort}"
    val jobs = try jobsOf {
      assert(call(base, "POST", "/pipeline/dispatcher/event", event(9100, "origination"))
        .contains("\"ingest-orders\""))
      call(base, "POST", "/pipeline/dispatcher/event", event(9101, "success"))
      assert(call(base, "GET", "/pipeline/config/describe?pipeline_uuid=ingest-orders").contains("ingest-orders"))
      call(base, "GET", "/pipeline/dispatcher/running?statuses=success,failed")
      assert(call(base, "GET", "/pipeline/dispatcher/event/history?pipeline_uuid=ingest-orders")
        .contains("exec-ingest-orders-9101"))
    } finally facade.stop()
    assert(jobs == 0, s"$jobs Spark jobs on the control plane")
  }

  test("standalone facade: 50 upserts with triggers, then describe, list, delete and flush start no Spark job") {
    val spark = SparkSuite.spark
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val facade = new HttpFacade(secured(api), spark)
    val base = s"http://127.0.0.1:${facade.start(0).getPort}"
    val jobs = try jobsOf {
      (0 until 50).foreach(i => call(base, "POST", "/pipeline/config/create_or_replace", guardUpsert(i)))
      assert(call(base, "GET", "/pipeline/config/describe?pipeline_uuid=guard-049").contains("guard-049"))
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=guard-")
        .split("\"pipeline_uuid\"").length - 1 == 50)
      call(base, "DELETE", "/pipeline/config/delete?pipeline_uuid=guard-049")
      call(base, "DELETE", "/pipeline/config/flush?pipeline_prefix=guard-")
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=guard-") == "[]")
    } finally facade.stop()
    assert(jobs == 0, s"$jobs Spark jobs for catalog mutations on a standalone facade")
    assert(!api.catalog.edges.exists(_.pipeline_uuid.startsWith("guard-")))
  }

  test("started service: an event POST and its run's callback start no Spark job, and both are journaled") {
    val spark = SparkSuite.spark
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val ckpt = SparkSuite.tempDir("guard-svc-ckpt")
    // no culler or cron tick inside the test
    val service = new GraftService(secured(api), spark, mqEndpoint = None, checkpointRoot = ckpt,
      jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
      cfg = graft.GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
      cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
    def journal(): Seq[String] =
      Files.list(Paths.get(ckpt, "service-state", "journal")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".jsonl"))
        .flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty)
    val base = s"http://127.0.0.1:${service.start(0).getPort}"
    val (jobs, records) = try {
      val n = jobsOf {
        assert(call(base, "POST", "/pipeline/dispatcher/event", event(9200, "origination"))
          .contains("exec-ingest-orders-9200"))
        // the run's callback, as its pod would post it
        call(base, "POST", "/pipeline/dispatcher/event",
          event(9201, "success").replace("exec-ingest-orders-9201", "exec-ingest-orders-9200"))
      }
      (n, journal())
    } finally service.shutdown()
    assert(jobs == 0, s"$jobs Spark jobs on the service's ack path")
    assert(records.size == 2, s"one record per step: $records")
  }

  test("started service: 50 upserts, a delete and a flush start no Spark job, and each is one journal record") {
    val spark = SparkSuite.spark
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    api.catalog.metas // the Dataset boundary's collect, outside the count
    val ckpt = SparkSuite.tempDir("guard-catalog-ckpt")
    val service = new GraftService(secured(api), spark, mqEndpoint = None, checkpointRoot = ckpt,
      jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
      cfg = graft.GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
      cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
    val base = s"http://127.0.0.1:${service.start(0).getPort}"
    val jobs = try jobsOf {
      (0 until 50).foreach(i => call(base, "POST", "/pipeline/config/create_or_replace", guardUpsert(i)))
      call(base, "DELETE", "/pipeline/config/delete?pipeline_uuid=guard-049")
      call(base, "DELETE", "/pipeline/config/flush?pipeline_prefix=guard-")
    } finally service.shutdown()
    assert(jobs == 0, s"$jobs Spark jobs for catalog mutations on a started service")
    val records = Files.list(Paths.get(ckpt, "service-state", "journal")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".jsonl")).flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty)
    assert(records.size == 52 && records.forall(_.contains("\"catalog\"")), s"${records.size} records")
  }

  test("start on a fresh root over a Dataset-built catalog starts no Spark job") {
    val spark = SparkSuite.spark
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val service = new GraftService(secured(api), spark, mqEndpoint = None,
      checkpointRoot = SparkSuite.tempDir("guard-start-ckpt"),
      jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
      cfg = graft.GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
      cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
    val jobs = try jobsOf { service.start(0); () } finally service.shutdown()
    assert(jobs == 0, s"$jobs Spark jobs to start a service on a fresh root")
  }

  /** A backend that implements only the Dataset `jobs` (so `rows` plans
    * and collects a query) and counts its calls. It runs nothing: each
    * submitted run reports the status `status` holds for it, `running`
    * until a test sets another. It hosts both job kinds. */
  private final class CountingEngine extends EngineBackend {
    val name = "spark-local"
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val status = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val subs = new java.util.concurrent.ConcurrentHashMap[String, Submission]()
    def submit(sub: Submission, job: EngineJob): Unit = {
      subs.put(sub.exec_uuid, sub)
      status.putIfAbsent(sub.exec_uuid, "running")
      ()
    }
    def abort(execUuid: String): Unit = { status.replace(execUuid, "aborted"); () }
    def jobs(spark: SparkSession): Dataset[RunningJob] = {
      reads.incrementAndGet()
      spark.createDataset(subs.values().asScala.toSeq.map(s => RunningJob(s.exec_uuid,
        s.pipeline_uuid, name, s.exec_uuid, status.get(s.exec_uuid), None, None)))(EngineBackend.RunningJobEnc)
    }
    def logs(execUuid: String, maxKb: Int): String = ""
  }

  /** A started service over a [[CountingEngine]] on a fresh root, with no
    * culler or cron tick inside the test. Its catalog is read once here:
    * the Dataset boundary's collect of the defs and edges, which the
    * first dispatch would otherwise run. */
  private def countingService(): (GraftService, CountingEngine, String) = {
    val spark = SparkSuite.spark
    val engine = new CountingEngine
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(engine)))
    api.catalog.metas
    val service = new GraftService(secured(api), spark, mqEndpoint = None,
      checkpointRoot = SparkSuite.tempDir("guard-gate-ckpt"),
      jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
      cfg = graft.GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
      cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
    (service, engine, s"http://127.0.0.1:${service.start(0).getPort}")
  }

  /** The query executions `body` runs, local relations included. */
  private def queriesOf(body: => Unit): Int = {
    val spark = SparkSuite.spark
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = { queries.incrementAndGet(); () }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = { queries.incrementAndGet(); () }
    }
    Bench.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try { body; Bench.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(listener)
    queries.get()
  }

  /** POST a single-use run of `pipeline`; returns its exec_uuid. */
  private def singleUse(base: String, pipeline: String): String = {
    val body = call(base, "POST", "/pipeline/dispatcher/run_single_use",
      s"""{"def":{"pipeline_uuid":"$pipeline","retry_max":0,"concurrency":false,""" +
        """"engine":"spark-local","engine_args":"{}"},"argv":["true"]}""")
    "\"exec_uuid\":\"([^\"]+)\"".r.findFirstMatchIn(body).get.group(1)
  }

  private def openRuns(service: GraftService): Seq[String] = service.journal.open.map(_.exec_uuid)
  private def ledger(service: GraftService): Seq[String] = service.facade.running.rows.map(_.exec_uuid)

  test("started service: an origination POST and its callback read no engine and execute no query") {
    val (service, engine, base) = countingService()
    try {
      val queries = queriesOf {
        assert(call(base, "POST", "/pipeline/dispatcher/event", event(9300, "origination"))
          .contains("exec-ingest-orders-9300"))
        call(base, "POST", "/pipeline/dispatcher/event",
          event(9301, "success").replace("exec-ingest-orders-9301", "exec-ingest-orders-9300"))
      }
      assert(engine.reads.get() == 0, s"${engine.reads.get()} engine reads on the dispatch path")
      assert(queries == 0, s"$queries query executions on the dispatch path")
      assert(!openRuns(service).contains("exec-ingest-orders-9300"), "the callback closes its run")
      // the listener sees the query a gate read would run
      assert(queriesOf(engine.rows(SparkSuite.spark)) > 0)
    } finally service.shutdown()
  }

  test("restart over an uncompacted journal: a history window reaching the restored events executes no query") {
    val spark = SparkSuite.spark
    val ckpt = SparkSuite.tempDir("guard-history-ckpt")
    def service() = {
      val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
        new EngineManager(Seq(new LocalSparkEngine(spark))))
      api.catalog.metas
      new GraftService(secured(api), spark, mqEndpoint = None, checkpointRoot = ckpt,
        jobFactory = Some((_, _) => EngineJob.SparkClosure(_ => ())),
        cfg = graft.GraftConfig.default.copy(cullingIntervalSeconds = 3600L),
        cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
    }
    val now = System.currentTimeMillis()
    val a = service()
    try {
      val base = s"http://127.0.0.1:${a.start(0).getPort}"
      call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=${now - 60000L}", event(9700, "origination"))
      call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=${now - 30000L}",
        event(9701, "success").replace("exec-ingest-orders-9701", "exec-ingest-orders-9700"))
    } finally a.shutdown()
    val b = service()
    try {
      val base = s"http://127.0.0.1:${b.start(0).getPort}"
      var body = ""
      val queries = queriesOf {
        body = call(base, "GET", s"/pipeline/dispatcher/event/history?now_epoch_ms=$now&since_seconds=600")
      }
      assert(queries == 0, s"$queries query executions for a history window over restored events")
      val whole = EventLog.history(b.facade.eventLog.get(), new java.sql.Timestamp(now), 600L,
        maxRecords = graft.GraftConfig.default.historyMaxRecords)
        .as[LifecycleEvent](org.apache.spark.sql.Encoders.product[LifecycleEvent]).collect().toSeq
      assert(whole.map(_.event_id) == Seq(9701L, 9700L))
      assert(body == b.facade.codec.rows(whole))
    } finally b.shutdown()
  }

  test("concurrency gate: a run the engine reports ended without a callback does not block its pipeline") {
    val (service, engine, base) = countingService()
    try {
      call(base, "POST", "/pipeline/dispatcher/event", event(9400, "origination"))
      assert(ledger(service) == Seq("exec-ingest-orders-9400"))
      engine.status.put("exec-ingest-orders-9400", "success") // it ended; no callback comes
      val reads = engine.reads.get()
      assert(call(base, "POST", "/pipeline/dispatcher/event", event(9401, "origination"))
        .contains("exec-ingest-orders-9401"), "the new run submits in the same step")
      assert(engine.reads.get() - reads == 1, "one engine read decides the deferral")
      assert(openRuns(service) == Seq("exec-ingest-orders-9401"), "the ended run is closed in the journal")
      assert(ledger(service) == Seq("exec-ingest-orders-9401"))
      assert(service.facade.incubating.rows.isEmpty)
    } finally service.shutdown()
  }

  test("concurrency gate: a live run defers the next origination of its pipeline") {
    val (service, engine, base) = countingService()
    try {
      call(base, "POST", "/pipeline/dispatcher/event", event(9500, "origination"))
      assert(call(base, "POST", "/pipeline/dispatcher/event", event(9501, "origination")) == "[]")
      assert(engine.reads.get() == 1)
      assert(service.facade.incubating.rows.map(r => (r.pipeline_uuid, r.reason)) ==
        Seq("ingest-orders" -> "concurrency"))
      assert(openRuns(service) == Seq("exec-ingest-orders-9500"))
    } finally service.shutdown()
  }

  test("concurrency gate: a single-use run of a catalog pipeline gates until the engine reports it ended") {
    val (service, engine, base) = countingService()
    try {
      val exec = singleUse(base, "ingest-orders")
      assert(ledger(service) == Seq(exec) && openRuns(service).isEmpty, "held in memory, not journaled")
      assert(call(base, "POST", "/pipeline/dispatcher/event", event(9600, "origination")) == "[]")
      assert(service.facade.incubating.rows.map(_.reason) == Seq("concurrency"))
      engine.status.put(exec, "success")
      assert(call(base, "POST", "/pipeline/dispatcher/event", event(9601, "origination"))
        .contains("exec-ingest-orders-9601"))
      assert(ledger(service) == Seq("exec-ingest-orders-9601"))
      // a single-use run no step defers behind leaves at the culler tick's engine read
      engine.status.put(singleUse(base, "adhoc-unregistered"), "success")
      assert(ledger(service).size == 2)
      service.cullTick()
      assert(ledger(service) == Seq("exec-ingest-orders-9601"))
    } finally service.shutdown()
  }
}
