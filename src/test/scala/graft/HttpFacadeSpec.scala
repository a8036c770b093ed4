package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Auth, GraftApi, HttpFacade, SecuredGraftApi}
import graft.meta.Fixtures
import graft.orchestration.{Catalog, EngineManager, LocalSparkEngine}

/** The HTTP adapter exercised end-to-end over loopback with the JDK
  * HTTP client: route → role gate → engine → JSON, for the reference's
  * 18 facade endpoints (facade.py:30-126). Closes r5 missing #1 — the
  * reference is LED by its network surface, so the rebuild's facade
  * must be driven as one, not only as a library.
  */
class HttpFacadeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val Admin = "admin-token"
  private val Read = "read-token"

  private def newApi(): GraftApi = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
    Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))))

  private def newFacade(api: GraftApi = newApi()): HttpFacade = {
    val policy = new Auth.Policy(
      new Auth.StaticTokenVerifier(Map(
        Admin -> Seq("Data-Admin"),
        Read -> Seq("Data-Analyst"))),
      apiTokens = Set.empty)
    new HttpFacade(new SecuredGraftApi(api, policy), spark)
  }

  private val client = HttpClient.newHttpClient()

  private def call(base: String, method: String, path: String,
                   token: Option[String] = None,
                   body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def withFacade(f: (HttpFacade, String) => Unit): Unit = withFacade(newApi())(f)

  private def withFacade(api: GraftApi)(f: (HttpFacade, String) => Unit): Unit = {
    val facade = newFacade(api)
    val addr = facade.start(0)
    try f(facade, s"http://127.0.0.1:${addr.getPort}")
    finally facade.stop()
  }

  test("18 reference endpoints are routed") {
    assert(newFacade().routeCount == 18)
  }

  test("logged => applied: the durable event append runs only AFTER effects apply; a failed step rolls the in-memory log back (r8 review)") {
    import java.sql.Timestamp
    import graft.model.LifecycleEvent
    val facade = newFacade()
    val now = new Timestamp(System.currentTimeMillis())
    val ev = LifecycleEvent(9901L, "job_exec_update", "origination", "report-weekly",
      "exec-ordering-1", now, now, 0, disable_downstream = false)
    val durable = scala.collection.mutable.ArrayBuffer.empty[Seq[LifecycleEvent]]
    facade.eventSink.set(batch => durable += batch)
    // first attempt: the submission sink (where the service persists
    // state and submits) throws — the step fails mid-apply
    facade.submissionSink.set(_ => throw new RuntimeException("boom: persist failed"))
    intercept[RuntimeException](facade.ingest(Seq(ev), now))
    assert(durable.isEmpty,
      "a batch whose effects failed must NOT reach the durable log — a replay deduped on that log would be lost forever")
    assert(facade.eventLog.get().filter(_.event_id == 9901L).isEmpty,
      "a failed step must leave no trace in the in-memory log either")
    // retry (the MQ stream's replay): with the sink healthy the same
    // batch applies and only then reaches the durable log
    facade.submissionSink.set(_ => ())
    facade.ingest(Seq(ev), now)
    assert(durable.map(_.map(_.event_id)) == Seq(Seq(9901L)))
  }

  test("list/describe/downstream/fetch_body over HTTP with a read token") {
    withFacade { (_, base) =>
      val list = call(base, "POST", "/pipeline/config/list?pipeline_prefix=report-", Some(Read))
      assert(list.statusCode() == 200)
      assert(list.body().split("\"pipeline_uuid\"").length - 1 == 3)

      val desc = call(base, "GET", "/pipeline/config/describe?pipeline_uuid=report-daily", Some(Read))
      assert(desc.statusCode() == 200 && desc.body().contains("\"report-daily\""))

      val down = call(base, "GET", "/pipeline/config/downstream?pipeline_uuid=report-daily", Some(Read))
      assert(down.statusCode() == 200)
      assert(down.body().split("\"pipeline_uuid\"").length - 1 == 4)
      assert(!down.body().contains("pipeline_body"), "downstream must be header-only")

      val body = call(base, "GET", "/pipeline_config/fetch_pipeline_body?pipeline_uuid=report-daily", Some(Read))
      assert(body.statusCode() == 200 && body.body().contains("pipeline_uuid"))
    }
  }

  test("auth: anonymous 403, read token on admin verb 403, bad param 400, bad method 405") {
    withFacade { (_, base) =>
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=report-").statusCode() == 403)
      assert(call(base, "DELETE", "/pipeline/config/flush?pipeline_prefix=report-", Some(Read))
        .statusCode() == 403)
      // invalid prefix alphabet -> the D2 require -> 400
      assert(call(base, "POST", "/pipeline/config/list?pipeline_prefix=NOPE%21", Some(Read))
        .statusCode() == 400)
      assert(call(base, "GET", "/pipeline/config/list?pipeline_prefix=report-", Some(Read))
        .statusCode() == 405)
    }
  }

  /** Every route and method with the verb it gates (`facade.py:30-126`;
    * POST /sys/config is the admin action lever). */
  private val RouteVerbs = Seq(
    ("POST", "/pipeline/config/list", "list"),
    ("GET", "/pipeline/config/describe", "describe"),
    ("GET", "/pipeline/config/downstream", "downstream"),
    ("GET", "/pipeline_config/fetch_pipeline_body", "head"),
    ("POST", "/pipeline/config/create_or_replace", "upsert"),
    ("DELETE", "/pipeline/config/delete", "delete"),
    ("DELETE", "/pipeline/config/flush", "flush"),
    ("POST", "/pipeline/dispatcher/run_by_pipeline_uuid", "runByPipelineUuid"),
    ("POST", "/pipeline/dispatcher/run_single_use", "runSingleUse"),
    ("GET", "/pipeline/dispatcher/running", "running"),
    ("GET", "/pipeline/dispatcher/get_logs", "logs"),
    ("DELETE", "/pipeline/dispatcher/abort_pipeline", "abort"),
    ("POST", "/pipeline/dispatcher/event", "dispatch"),
    ("GET", "/pipeline/dispatcher/event/history", "history"),
    ("GET", "/pipeline/incubation/update", "incubationUpdate"),
    ("DELETE", "/pipeline/incubation/delete", "incubationDelete"),
    ("DELETE", "/pipeline_incubation/flush", "incubationFlush"),
    ("GET", "/sys/config", "sysConfig"),
    ("POST", "/sys/config", "flush"))

  test("auth table: every route is 403 anonymous, and 403 for a read token exactly where its verb is admin") {
    withFacade { (facade, base) =>
      assert(RouteVerbs.map(_._2).distinct.size == facade.routeCount)
      assert(RouteVerbs.map(_._3).toSet == Auth.VerbRoles.keySet, "a verb no route gates")
      for ((method, path, verb) <- RouteVerbs) {
        val anon = call(base, method, path)
        assert(anon.statusCode() == 403, s"anonymous $method $path -> ${anon.statusCode()} ${anon.body()}")
        val read = call(base, method, path, Some(Read))
        assert((read.statusCode() == 403) == (Auth.VerbRoles(verb) == "admin"),
          s"read token $method $path ($verb) -> ${read.statusCode()} ${read.body()}")
      }
    }
  }

  test("auth before work: an anonymous get_logs naming an unknown engine is 403, not 400") {
    withFacade { (_, base) =>
      val r = call(base, "GET", "/pipeline/dispatcher/get_logs?engine_name=nope&engine_tracking_id=x")
      assert(r.statusCode() == 403, r.body())
      assert(call(base, "GET", "/pipeline/dispatcher/get_logs?engine_name=nope&engine_tracking_id=x",
        Some(Admin)).statusCode() == 400)
    }
  }

  test("CLI read verbs print the bytes the HTTP read routes answer") {
    val api = newApi()
    def cli(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      assert(Console.withOut(out)(graft.api.Cli.run(api, spark, args.toList)) == 0)
      out.toString("UTF-8").trim
    }
    withFacade(api) { (_, base) =>
      def http(method: String, path: String): String = {
        val r = call(base, method, path, Some(Read))
        assert(r.statusCode() == 200, r.body())
        r.body()
      }
      assert(cli("list", "report-") == http("POST", "/pipeline/config/list?pipeline_prefix=report-"))
      assert(cli("describe", "report-daily") ==
        http("GET", "/pipeline/config/describe?pipeline_uuid=report-daily"))
      assert(cli("downstream", "report-daily") ==
        http("GET", "/pipeline/config/downstream?pipeline_uuid=report-daily"))
      assert(cli("running") == http("GET", "/pipeline/dispatcher/running"))
    }
  }

  test("auth scheme: non-Bearer and fused-Bearer credentials are anonymous (403), r7 review") {
    withFacade { (_, base) =>
      def withHeader(h: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(base + "/pipeline/config/list?pipeline_prefix=report-"))
          .method("POST", HttpRequest.BodyPublishers.noBody())
          .header("Authorization", h)
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(withHeader(s"Basic $Read") == 403, "wrong scheme must not pass the token through")
      assert(withHeader(s"Bearer$Read") == 403, "fused scheme+token must not authenticate")
      assert(withHeader(s"Bearer $Read") == 200, "the correct scheme still works")
      assert(withHeader(s"bearer $Read") == 200, "scheme is case-insensitive (RFC 9110)")
    }
  }

  test("malformed bodies are 400, not 500 (r7 review)") {
    withFacade { (_, base) =>
      // broken JSON and a valid-but-empty object both fail loudly at
      // the boundary instead of surfacing encoder NPEs
      assert(call(base, "POST", "/pipeline/config/create_or_replace", Some(Admin),
        "not json at all").statusCode() == 400)
      assert(call(base, "POST", "/pipeline/config/create_or_replace", Some(Admin),
        "{}").statusCode() == 400)
      assert(call(base, "GET", "/pipeline/incubation/update?obj_id=x", Some(Admin),
        "][").statusCode() == 400)
      // an event body that omits the reference's optional fields is not
      // malformed: retry_count defaults to 0 and disable_downstream to
      // false, as on the MQ ingress (it was a 400 while bodies parsed
      // through Spark's reader); one missing a dispatch key still is
      val now = Fixtures.NOW.getTime
      val bare = """{"event_id":950,"event_type":"job_exec_update",""" +
        """"event_subtype":"origination","pipeline_uuid":"ingest-orders"}"""
      val r = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin), bare)
      assert(r.statusCode() == 200 && r.body().contains("\"ingest-orders\""), r.body())
      assert(call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin),
        bare.replace(""","pipeline_uuid":"ingest-orders"""", "")).statusCode() == 400)
    }
  }

  test("out-of-range get_logs max_kb and history max_records are 400, not 500") {
    withFacade { (_, base) =>
      // a negative max_kb, or one whose KiB overflow an Int, indexed past
      // the end of the log and answered 500 for any tracking id
      Seq("-1", "2097152").foreach { kb =>
        val r = call(base, "GET",
          s"/pipeline/dispatcher/get_logs?engine_tracking_id=exec-none&max_kb=$kb", Some(Admin))
        assert(r.statusCode() == 400 && r.body().contains("max_kb"), s"max_kb=$kb: ${r.body()}")
      }
      Seq("0", "2097151").foreach { kb =>
        assert(call(base, "GET",
          s"/pipeline/dispatcher/get_logs?engine_tracking_id=exec-none&max_kb=$kb", Some(Admin))
          .statusCode() == 200, s"max_kb=$kb")
      }
      // a negative max_records answered [] from the driver rows and failed
      // in the whole-log fallback (a window older than the held events)
      Seq("", "&since_seconds=999999999").foreach { window =>
        val r = call(base, "GET", s"/pipeline/dispatcher/event/history?max_records=-1$window", Some(Read))
        assert(r.statusCode() == 400 && r.body().contains("max_records"), s"$window: ${r.body()}")
        assert(call(base, "GET", s"/pipeline/dispatcher/event/history?max_records=0$window", Some(Read))
          .statusCode() == 200)
      }
      // a negative running limit or history since_seconds answered 200
      // with []
      Seq("running?limit=-1" -> "limit", "event/history?since_seconds=-5" -> "since_seconds").foreach {
        case (route, name) =>
          val r = call(base, "GET", s"/pipeline/dispatcher/$route", Some(Read))
          assert(r.statusCode() == 400 && r.body().contains(name), s"$route: ${r.body()}")
      }
    }
  }

  test("run_by_pipeline_uuid joins the event history like every other ingress (r7 review)") {
    withFacade { (_, base) =>
      val now = Fixtures.NOW.getTime
      assert(call(base, "POST",
        s"/pipeline/dispatcher/run_by_pipeline_uuid?pipeline_uuid=ingest-orders&now_epoch_ms=$now",
        Some(Admin)).statusCode() == 200)
      val h = call(base, "GET",
        s"/pipeline/dispatcher/event/history?now_epoch_ms=$now&since_seconds=86400&pipeline_uuid=ingest-orders",
        Some(Read))
      assert(h.statusCode() == 200, h.body())
      assert(h.body().contains("manual-ingest-orders"),
        s"the synthesized origination must appear in history: ${h.body()}")
    }
  }

  test("upsert rejects trigger rows that belong to another pipeline (r7 review)") {
    withFacade { (_, base) =>
      val body =
        """{"def":{"pipeline_uuid":"inject-a","description":"x","retry_max":0,
          |"concurrency":true,"engine":"spark-local","engine_args":"{}",
          |"triggers_op":"any","tags_team":"t","tags_env":"dev","pipeline_body":"{}"},
          |"triggers":[{"pipeline_uuid":"report-daily","trigger_uuid":"ingest-orders","op":"any"}]}"""
          .stripMargin
      val r = call(base, "POST", "/pipeline/config/create_or_replace", Some(Admin), body)
      assert(r.statusCode() == 400, s"stray-edge injection must be rejected: ${r.body()}")
      assert(r.body().contains("inject-a"))
    }
  }

  test("dispatch over HTTP: origination event yields a submission and appends history") {
    withFacade { (_, base) =>
      val now = Fixtures.NOW.getTime
      val ev =
        s"""{"event_id":900,"event_type":"job_exec_update","event_subtype":"origination",
           |"pipeline_uuid":"ingest-orders","exec_uuid":"exec-http-900",
           |"event_time":"2024-01-31T23:00:00.000Z","received_time":"2024-01-31T23:00:00.000Z",
           |"retry_count":0,"disable_downstream":false}""".stripMargin
      val r = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin), ev)
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"ingest-orders\""), s"no submission in: ${r.body()}")

      // read verb over the state the POST appended
      val h = call(base, "GET",
        s"/pipeline/dispatcher/event/history?now_epoch_ms=$now&since_seconds=86400&pipeline_uuid=ingest-orders",
        Some(Read))
      assert(h.statusCode() == 200, h.body())
      assert(h.body().contains("exec-http-900"))

      // read token cannot dispatch
      assert(call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Read), ev)
        .statusCode() == 403)

      // reserved-negative-id invariant holds on the HTTP ingress too
      // (r9 advice: it was only enforced on the MQ path, so an HTTP
      // producer could mint ids that alias engine callbacks in the log)
      val neg = ev.replace("\"event_id\":900", "\"event_id\":-900")
      val rn = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin), neg)
      assert(rn.statusCode() == 400, s"negative external id must be rejected: ${rn.body()}")
      assert(rn.body().contains("reserved"), rn.body())
    }
  }

  test("dispatch over HTTP: two-parent child incubates, then releases on the second success") {
    withFacade { (facade, base) =>
      val now = Fixtures.NOW.getTime
      def success(id: Long, pipeline: String) =
        s"""{"event_id":$id,"event_type":"job_exec_update","event_subtype":"success",
           |"pipeline_uuid":"$pipeline","exec_uuid":"exec-$id",
           |"event_time":"2024-01-31T23:00:00.000Z","received_time":"2024-01-31T23:00:00.000Z",
           |"retry_count":0,"disable_downstream":false}""".stripMargin
      val r1 = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin),
        success(901, "clean-orders"))
      assert(r1.statusCode() == 200, r1.body())
      assert(!r1.body().contains("join-orders-customer"), "one of two parents must not release")
      assert(facade.incubating.get().count() >= 1, "partial child must incubate in facade state")

      val r2 = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$now", Some(Admin),
        success(902, "clean-customer"))
      assert(r2.statusCode() == 200, r2.body())
      assert(r2.body().contains("join-orders-customer"),
        s"second parent success must release the child: ${r2.body()}")
    }
  }

  test("create_or_replace + delete round-trip over HTTP") {
    withFacade { (_, base) =>
      val body =
        """{"def":{"pipeline_uuid":"http-new","description":"via http","retry_max":0,
          |"concurrency":true,"engine":"spark-local","engine_args":"{}",
          |"triggers_op":"any","tags_team":"data","tags_env":"dev",
          |"pipeline_body":"{}"},
          |"triggers":[{"pipeline_uuid":"http-new","trigger_uuid":"report-daily","op":"any"}]}"""
          .stripMargin
      assert(call(base, "POST", "/pipeline/config/create_or_replace", Some(Admin), body)
        .statusCode() == 200)
      val desc = call(base, "GET", "/pipeline/config/describe?pipeline_uuid=http-new", Some(Read))
      assert(desc.body().contains("\"http-new\""))
      assert(call(base, "DELETE", "/pipeline/config/delete?pipeline_uuid=http-new", Some(Admin))
        .statusCode() == 200)
      val gone = call(base, "GET", "/pipeline/config/describe?pipeline_uuid=http-new", Some(Read))
      assert(gone.body() == "[]")
    }
  }

  test("running/sys_config/incubation_flush round out the verb surface") {
    withFacade { (facade, base) =>
      val run = call(base, "GET", "/pipeline/dispatcher/running?limit=5", Some(Read))
      assert(run.statusCode() == 200 && run.body().startsWith("["))
      val cfg = call(base, "GET", "/sys/config", Some(Read))
      assert(cfg.statusCode() == 200 && cfg.body().contains("historyMaxRecords"))
      assert(call(base, "DELETE", "/pipeline_incubation/flush", Some(Admin)).statusCode() == 200)
      assert(facade.incubating.get().count() == 0)
    }
  }
}
