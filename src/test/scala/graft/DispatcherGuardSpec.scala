package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Auth, GraftApi, GraftService, HttpFacade, SecuredGraftApi}
import graft.meta.Fixtures
import graft.orchestration.{Catalog, EngineJob, EngineManager, LocalSparkEngine}

/** Drift guard: one dispatcher. Every ingress (HTTP, MQ poll, culler
  * and cron ticks) reaches `GraftApi.dispatchRows` → `Dispatcher.step`,
  * and only `Dispatcher.step` folds the incubation state machine per
  * key. A second caller of either is a second dispatcher whose routing
  * and concurrency gate drift from the real one, so it fails here. MQ
  * ingest is a driver poll loop, so main code starts no streaming query
  * at all. And the control plane runs on the
  * driver, in one representation: the catalog is driver rows, typed as
  * a Dataset only at the MetaStore and construction boundary; an event
  * POST, the catalog mutations and the read routes start no Spark job,
  * and neither does the service's durability on the ack path. */
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

  test("only the MetaStore, Fixtures and the Catalog/GraftApi construction boundary type the catalog as a Dataset") {
    assert(callers("""\bDataset\[Pipeline(Def|Trigger)\]""".r) == Seq(
      Paths.get("graft", "api", "GraftApi.scala").toString,
      Paths.get("graft", "meta", "Fixtures.scala").toString,
      Paths.get("graft", "orchestration", "Catalog.scala").toString))
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
    // a chain: guard-000 triggers on ingest-orders, each next one on the last
    def upsert(i: Int): String = {
      val parent = if (i == 0) "ingest-orders" else f"guard-${i - 1}%03d"
      f"""{"def":{"pipeline_uuid":"guard-$i%03d","description":"guard","retry_max":0,""" +
        """"concurrency":false,"engine":"spark-local","engine_args":"{}","triggers_op":"any"},""" +
        f""""triggers":[{"pipeline_uuid":"guard-$i%03d","trigger_uuid":"$parent","op":"any"}]}"""
    }
    val jobs = try jobsOf {
      (0 until 50).foreach(i => call(base, "POST", "/pipeline/config/create_or_replace", upsert(i)))
      assert(call(base, "GET", "/pipeline/config/describe?pipeline_uuid=guard-049").contains("guard-049"))
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=guard-")
        .split("\"pipeline_uuid\"").length - 1 == 50)
      call(base, "DELETE", "/pipeline/config/delete?pipeline_uuid=guard-049")
      call(base, "DELETE", "/pipeline/config/flush?pipeline_prefix=guard-")
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=guard-") == "[]")
    } finally facade.stop()
    assert(jobs == 0, s"$jobs Spark jobs for catalog mutations without a MetaStore")
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
}
