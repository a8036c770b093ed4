package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders

import graft.api.{GraftApi, GraftService, JsonCodec}
import graft.meta.Fixtures
import graft.model._
import graft.orchestration.{Catalog, EngineManager, EventLog, LocalSparkEngine}

/** Facade-verb surface (18 endpoints → GraftApi), the GRAFT_META_DIR
  * catalog import, ingest parsing, retry semantics. */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
    Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))))

  test("list/describe/head/downstream verbs") {
    val c = api.catalog
    assert(c.list(Some("report-")).size == 3)
    assert(c.describe("report-daily").size == 1)
    assert(c.downstream("report-daily").size == 4)
  }

  test("upsert + delete round-trip keeps catalog and edges consistent") {
    val a = api
    a.upsertPipeline(Fixtures.defs.head.copy(pipeline_uuid = "brand-new", schedule = None,
      scheduler_tracking_id = None),
      Seq(PipelineTrigger("brand-new", "report-daily", "any")))
    assert(a.catalog.describe("brand-new").size == 1)
    assert(a.catalog.edges.count(_.pipeline_uuid == "brand-new") == 1)
    a.deletePipeline("brand-new")
    assert(a.catalog.describe("brand-new").isEmpty)
    assert(!a.catalog.edges.exists(_.pipeline_uuid == "brand-new"))
  }

  test("flushPipelines drops defs AND their trigger edges; survivors still dispatch (D7)") {
    val a = api
    assert(a.catalog.edges.exists(_.pipeline_uuid.startsWith("report-")))
    a.flushPipelines("report-")
    assert(a.catalog.list(Some("report-")).isEmpty)
    // flushed pipelines' trigger edges must go with them (ADVICE r1)
    assert(!a.catalog.edges.exists(_.pipeline_uuid.startsWith("report-")))
    // success of a surviving parent whose children were all flushed must
    // dispatch cleanly (previously threw NoSuchElementException in childMeta)
    val r = a.dispatchRows(
      Seq(LifecycleEvent(900L, "job_exec_update", "success", "agg-revenue", "exec-900",
        Fixtures.NOW, Fixtures.NOW, 0, disable_downstream = false)),
      Nil, Nil, Fixtures.NOW)
    assert(r.submissions.isEmpty)
  }

  test("a failure report drops its own exec from the concurrency gate: the retry submits in the same step") {
    // flaky-export: concurrency = false, retry_max = 3. The running
    // snapshot still lists exec-x (its callback fires inside the
    // closure, before the engine marks it done); gating the retry
    // against that row incubated it for the whole debounce.
    def job(exec: String) = RunningJob(exec, "flaky-export", "spark-local", s"t-$exec",
      "running", Some(Fixtures.NOW), None)
    val failure = LifecycleEvent(950L, "job_exec_update", "failure", "flaky-export", "exec-x",
      Fixtures.NOW, Fixtures.NOW, 0, disable_downstream = false)
    val r = api.dispatchRows(Seq(failure), Seq(job("exec-x")), Nil, Fixtures.NOW)
    assert(r.submissions.map(s => (s.pipeline_uuid, s.retry_count)) ==
      Seq(("flaky-export", 1)))
    assert(r.deferred.filter(_.reason == "concurrency").isEmpty,
      "the retry incubated behind its own finished attempt")
    // a DIFFERENT live exec of the pipeline still gates the retry
    val gated = api.dispatchRows(Seq(failure), Seq(job("exec-x"), job("exec-y")), Nil, Fixtures.NOW)
    assert(gated.submissions.isEmpty)
    assert(gated.deferred.map(_.reason) == Seq("concurrency"))
  }

  test("a success/failure report without an exec_uuid leaves the concurrency gate whole") {
    // Neither ingress requires exec_uuid. A NULL among the finished ids
    // must not empty the running set: solo-maintenance (concurrency =
    // false) still has a live run, so its origination stays deferred.
    val live = RunningJob("exec-s", "solo-maintenance", "spark-local", "t-exec-s",
      "running", Some(Fixtures.NOW), None)
    val failure = LifecycleEvent(951L, "job_exec_update", "failure", "flaky-export", null,
      Fixtures.NOW, Fixtures.NOW, 0, disable_downstream = false)
    val origination = LifecycleEvent(952L, "job_exec_update", "origination", "solo-maintenance",
      "orig-s", Fixtures.NOW, Fixtures.NOW, 0, disable_downstream = false)
    val r = api.dispatchRows(Seq(failure, origination), Seq(live), Nil, Fixtures.NOW)
    assert(!r.submissions.exists(_.pipeline_uuid == "solo-maintenance"))
    assert(r.deferred.map(d => (d.pipeline_uuid, d.reason))
      .contains(("solo-maintenance", "concurrency")))
  }

  test("shingles() yields empty array for docs shorter than w (ADVICE r1)") {
    val out = Seq("one two", "one two three four", "")
      .toDF("text")
      .select(graft.operators.Dedup.shingles($"text", 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0).isEmpty)
    assert(out(1) == Seq("one two three", "two three four"))
    assert(out(2).isEmpty)
  }

  test("run_by_pipeline_uuid dispatches an origination event") {
    val a = api
    val r = a.dispatchRows(Seq(a.manualOrigination("ingest-orders", Fixtures.NOW)), Nil, Nil,
      Fixtures.NOW)
    assert(r.submissions.map(_.pipeline_uuid) == Seq("ingest-orders"))
  }

  test("event history verb applies defaults and filters") {
    val events = Fixtures.lifecycleEventsDF(spark, SparkSuite.sfDir)
      .as[LifecycleEvent]
    val h = EventLog.history(events, Fixtures.ts("2024-01-20 00:00:00"),
      sinceSeconds = 86400L * 30, pipelineUuid = Some("ingest-orders"),
      maxRecords = api.cfg.historyMaxRecords)
    assert(h.count() <= 20)
  }

  test("event ingest parses good lines, quarantines corrupt ones (S1)") {
    val good = """{"event_id": 7, "event_type": "job_exec_update", "event_subtype": "success",
      "pipeline_uuid": "clean-orders", "exec_uuid": "e-7", "event_time": "2024-01-31T23:00:00Z",
      "received_time": "2024-01-31T23:00:05Z", "retry_count": 0, "disable_downstream": false}"""
      .replaceAll("\n\\s*", " ")
    val (evs, corrupt) = JsonCodec.forSession(spark)
      .messages(Seq(good, """{"event_id": "not json""", "garbage"))
    assert(evs.length == 1 && evs.head.pipeline_uuid == "clean-orders" && evs.head.event_id == 7)
    assert(corrupt.size == 2)
  }

  test("SQL function registration: vec_dot/shingle_hashes/jaccard_sorted from pure SQL") {
    graft.plans.GraftFunctions.register(spark)
    graft.sources.Tables.embeddings(spark, SparkSuite.sfDir).createOrReplaceTempView("emb_sql")
    val self = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS d FROM emb_sql WHERE vec_id = 0").collect()
    assert(math.abs(self.head.getDouble(0) - 1.0) < 1e-6) // L2-normalized
    graft.sources.Tables.documents(spark, SparkSuite.sfDir).createOrReplaceTempView("docs_sql")
    val j = spark.sql(
      "SELECT jaccard_sorted(shingle_hashes(text, 3), shingle_hashes(text, 3)) AS j FROM docs_sql LIMIT 5")
      .collect()
    assert(j.forall(_.getDouble(0) == 1.0))
    val nTokens = spark.sql("SELECT size(token_hashes(text)) FROM docs_sql LIMIT 1").collect()
    assert(nTokens.head.getInt(0) > 0)
    val sig = spark.sql(
      "SELECT size(minhash_sig(shingle_hashes(text, 3))) AS k, simhash_sig(token_hashes(text)) AS s FROM docs_sql LIMIT 1").collect()
    assert(sig.head.getInt(0) == 64)
    val qd = spark.sql(
      "SELECT int_vec_dot(quantize_int8(embedding), quantize_int8(embedding)) AS d FROM emb_sql WHERE vec_id = 0").collect()
    assert(qd.head.getLong(0) > 0L)
    // extensions class wires the same specs (constructible + applies cleanly)
    assert(new graft.plans.GraftExtensions().isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("run_single_use + incubation point ops + sys config (facade.py:80,109-124)") {
    import java.sql.Timestamp
    import graft.orchestration.{EngineJob, EngineManager, ProcessEngine}
    import graft.orchestration.Dispatcher.IncubRow
    val proc = new ProcessEngine
    val a = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
      Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark), proc)))

    // single-use: unregistered def runs on its engine, no catalog write
    val adhoc = Fixtures.defs.head.copy(pipeline_uuid = "one-shot", engine = "process",
      schedule = None, scheduler_tracking_id = None)
    val exec = a.runSingleUse(adhoc, EngineJob.Command(Seq("/bin/sh", "-c", "echo one $EXEC_UUID")))
    assert(exec.startsWith("exec-one-shot-singleuse-"))
    val deadline = System.currentTimeMillis() + 30000
    def st() = proc.jobs(spark).collect().find(_.exec_uuid == exec).get.engine_status
    while (System.currentTimeMillis() < deadline && st() == "running") Thread.sleep(50)
    assert(st() == "success")
    assert(proc.logs(exec).contains(s"one $exec"))
    assert(a.catalog.describe("one-shot").isEmpty) // never registered

    // incubation point ops over the driver-held rows
    val inc = Seq(
      IncubRow("p-a", "obj-1", new Timestamp(1000L), None, "dependencies", 0,
        Map("dep-x" -> "waiting", "dep-y" -> "waiting")),
      IncubRow("p-b", "obj-2", new Timestamp(2000L), None, "concurrency", 1, Map.empty))
    val updated = a.updateIncubating(inc, "obj-1", Map("dep-x" -> "exec-42"))
    val row = updated.find(_.obj_id == "obj-1").get
    assert(row.triggers == Map("dep-x" -> "exec-42", "dep-y" -> "waiting"))
    intercept[IllegalArgumentException] { a.updateIncubating(inc, "no-such", Map.empty) } // 404
    assert(a.deleteIncubating(inc, "obj-2").map(_.obj_id) == Seq("obj-1"))

    // sys config surfaces exactly the config's keys
    val cfgMap = a.sysConfig
    assert(cfgMap.keySet == graft.GraftConfig.default.productElementNames.toSet)
  }

  test("cron provider: schedule lifecycle reconciles external registrations (ext_sched.py)") {
    import graft.model.PipelineTrigger
    import graft.orchestration.RegistryCronProvider
    val provider = new RegistryCronProvider
    val a = new GraftApi(spark, Catalog(Fixtures.defs, Fixtures.edges),
      new EngineManager(Seq(new LocalSparkEngine(spark))), cronProvider = provider)
    val base = Fixtures.defs.head.copy(pipeline_uuid = "cron-new",
      schedule = Some("0 5 * * *"), scheduler_tracking_id = None)

    // schedule -> registered + tracking id stamped (data_provider.py:69-70)
    a.upsertPipeline(base, Seq.empty)
    assert(provider.listCronJobs() == Map("graft-cron-cron-new" -> "0 5 * * *"))
    assert(a.catalog.describe("cron-new").head.scheduler_tracking_id
      .contains("graft-cron-cron-new"))
    // re-upsert with a new schedule -> re-created, not duplicated (409 path)
    a.upsertPipeline(base.copy(schedule = Some("30 6 * * *")), Seq.empty)
    assert(provider.listCronJobs() == Map("graft-cron-cron-new" -> "30 6 * * *"))
    // schedule removed -> deregistered, tracking id cleared
    a.upsertPipeline(base.copy(schedule = None), Seq.empty)
    assert(provider.listCronJobs().isEmpty)
    assert(a.catalog.describe("cron-new").head.scheduler_tracking_id.isEmpty)
    // rejected upsert (unknown trigger) leaves no stray registration
    intercept[IllegalArgumentException] {
      a.upsertPipeline(base, Seq(PipelineTrigger("cron-new", "no-such-parent", "all")))
    }
    assert(provider.listCronJobs().isEmpty)
    // rejected upsert that REMOVES the schedule must keep the previous
    // registration alive — deregister-before-upsert would leave the old
    // scheduled def in the catalog but silently never firing (ADVICE r3)
    a.upsertPipeline(base, Seq.empty)
    intercept[IllegalArgumentException] {
      a.upsertPipeline(base.copy(schedule = None),
        Seq(PipelineTrigger("cron-new", "no-such-parent", "all")))
    }
    assert(provider.listCronJobs() == Map("graft-cron-cron-new" -> "0 5 * * *"))
    assert(a.catalog.describe("cron-new").head.scheduler_tracking_id
      .contains("graft-cron-cron-new"))
    a.upsertPipeline(base.copy(schedule = None), Seq.empty) // clean up for the next block
    assert(provider.listCronJobs().isEmpty)
    // delete deregisters; double-delete of the job is tolerated (404 path)
    a.upsertPipeline(base, Seq.empty)
    a.deletePipeline("cron-new")
    assert(provider.listCronJobs().isEmpty)
    provider.deleteCronJob("graft-cron-cron-new") // long gone -> no throw
    // malformed schedule never registers
    intercept[IllegalArgumentException] {
      a.upsertPipeline(base.copy(schedule = Some("not a cron")), Seq.empty)
    }
    assert(provider.listCronJobs().isEmpty)
    // FLUSH deregisters too (r12 review: deletePipeline did, flush did
    // not — a flushed scheduled pipeline's external job kept firing
    // callbacks for a nonexistent pipeline, and the stale registration
    // was unreachable because the tracking id vanished with the def)
    a.upsertPipeline(base, Seq.empty)
    assert(provider.listCronJobs().nonEmpty)
    a.flushPipelines("cron-")
    assert(a.catalog.describe("cron-new").isEmpty)
    assert(provider.listCronJobs().isEmpty,
      "flush must deregister the flushed pipelines' external schedules")
  }

  test("meta store first boot: a fresh GRAFT_META_DIR loads as an EMPTY catalog, not a crash (r12 review)") {
    val dir = SparkSuite.tempDir("meta-first-boot")
    // chicken-and-egg pre-fix: the load crashed with PATH_NOT_FOUND
    // before the HTTP surface could bind
    val fresh = GraftService.importCatalog(spark, dir)
    assert(fresh.defs.isEmpty && fresh.edges.isEmpty)
    // dirs written by an earlier deployment import as they are
    Fixtures.defsDS(spark).write.parquet(s"$dir/pipeline_defs")
    Fixtures.edgesDS(spark).write.parquet(s"$dir/pipeline_triggers")
    val imported = GraftService.importCatalog(spark, dir)
    assert(imported.defs.size == 40 && imported.defs.toSet == Fixtures.defs.toSet)
    assert(imported.edges.toSet == Fixtures.edges.toSet)
  }

  test("auth: role gate admits/denies per the facade's verb table (auth.py:13-43)") {
    import graft.api.{Auth, SecuredGraftApi}
    val verifier = new Auth.StaticTokenVerifier(Map(
      "tok-admin" -> Seq("Data-Engineers"),
      "tok-read" -> Seq("Data-Analyst"),
      "tok-none" -> Seq("Unrelated-Group")))
    val policy = new Auth.Policy(verifier, apiTokens = Set("s3cret-api-token"))
    val secured = new SecuredGraftApi(api, policy)

    // read verb: read + admin groups pass, unknown group and missing token fail
    secured.as("tok-read").can("list")
    secured.as("tok-admin").can("list")
    intercept[Auth.AuthError] { secured.as("tok-none").can("list") }
    intercept[Auth.AuthError] { secured.anonymous.can("list") } // auth.py:27
    // the verb table: a read group passes exactly the read verbs, an
    // admin group every verb
    Auth.VerbRoles.foreach { case (verb, role) =>
      if (role == "read") secured.as("tok-read").can(verb)
      else intercept[Auth.AuthError](secured.as("tok-read").can(verb))
      secured.as("tok-admin").can(verb)
    }
    // API token = superuser on every verb (auth.py:32-33)
    Auth.VerbRoles.keys.foreach(secured.as("s3cret-api-token").can)
    // unknown token: the expired/unrecognized-schema path (auth.py:38)
    intercept[Auth.AuthError] { secured.as("garbage").can("list") }
    // the late-added verbs gate too: sys/config is read, run_single_use is admin
    secured.as("tok-read").can("sysConfig")
    intercept[Auth.AuthError] { secured.as("tok-read").can("runSingleUse") }
    intercept[Auth.AuthError] { secured.as("tok-none").can("incubationFlush") }
    // delete is admin-gated — deliberate deviation from facade.py:41's
    // read-gating slip (destructive verb behind the weakest role)
    assert(Auth.VerbRoles("delete") == "admin" && Auth.VerbRoles("upsert") == "admin")
    intercept[Auth.AuthError] { secured.as("tok-read").can("delete") }
    // a verb no route names is a programming error, not a denial
    intercept[IllegalArgumentException] { secured.as("s3cret-api-token").can("cronTick") }
  }

  test("auth: JwtVerifier validates HS256/RS256 signatures, exp/nbf, and the groups claim") {
    import graft.api.{Auth, JwtVerifier, SecuredGraftApi}
    import java.util.Base64
    val enc = Base64.getUrlEncoder.withoutPadding
    def b64(s: String) = enc.encodeToString(s.getBytes("UTF-8"))
    val secret = "graft-test-secret".getBytes("UTF-8")
    def hs256(header: String, payload: String, key: Array[Byte] = secret): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      val sp = s"${b64(header)}.${b64(payload)}"
      s"$sp.${enc.encodeToString(mac.doFinal(sp.getBytes("US-ASCII")))}"
    }
    val kpg = java.security.KeyPairGenerator.getInstance("RSA")
    kpg.initialize(2048)
    val kp = kpg.generateKeyPair()
    val pub = kp.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]
    def rs256(header: String, payload: String): String = {
      val s = java.security.Signature.getInstance("SHA256withRSA")
      s.initSign(kp.getPrivate)
      val sp = s"${b64(header)}.${b64(payload)}"
      s.update(sp.getBytes("US-ASCII"))
      s"$sp.${enc.encodeToString(s.sign())}"
    }
    val now = 1700000000L
    // static JWKS fixture — what an issuer's jwks_uri would serve
    val jwks = s"""{"keys":[{"kty":"RSA","kid":"rk","alg":"RS256",
      "n":"${enc.encodeToString(pub.getModulus.toByteArray)}",
      "e":"${enc.encodeToString(pub.getPublicExponent.toByteArray)}"}]}"""
    val verifier = new JwtVerifier(
      JwtVerifier.fromJwks(jwks) + ("hk" -> JwtVerifier.HmacKey(secret)),
      nowEpochSeconds = () => now)

    val hsHdr = """{"alg":"HS256","kid":"hk","typ":"JWT"}"""
    val rsHdr = """{"alg":"RS256","kid":"rk","typ":"JWT"}"""
    def claims(groups: String, exp: Long = now + 3600): String =
      s"""{"sub":"u1","exp":$exp,"groups":[$groups]}"""

    // happy paths: both algs verify and surface the groups claim
    assert(verifier.groups(hs256(hsHdr, claims("\"Data-Engineers\"")))
      .contains(Seq("Data-Engineers")))
    assert(verifier.groups(rs256(rsHdr, claims("\"Data-Analyst\",\"Extra\"")))
      .contains(Seq("Data-Analyst", "Extra")))
    // exp is REQUIRED (r10 review: `exists` semantics let a token with
    // a missing or string-typed exp validate FOREVER); absent groups on
    // an otherwise-valid token = valid, no roles
    assert(verifier.groups(hs256(hsHdr, """{"sub":"u1"}""")).isEmpty)
    assert(verifier.groups(hs256(hsHdr, s"""{"sub":"u1","exp":"${now + 3600}"}""")).isEmpty,
      "a string-typed exp is malformed, not immortal")
    assert(verifier.groups(hs256(hsHdr, s"""{"sub":"u1","exp":${now + 3600}}"""))
      .contains(Seq.empty))
    // iss/aud pinning when configured (the reference's Okta verifier
    // checks both; aud may be a string or an array)
    lazy val pinned = new JwtVerifier(
      Map("hk" -> JwtVerifier.HmacKey(secret)), () => now,
      expectedIssuer = Some("https://issuer.example"),
      expectedAudience = Some("graft-api"))
    def c(iss: String, aud: String) =
      s"""{"exp":${now + 3600},"iss":$iss,"aud":$aud,"groups":["Data-Engineers"]}"""
    assert(pinned.groups(hs256(hsHdr, c("\"https://issuer.example\"", "\"graft-api\"")))
      .contains(Seq("Data-Engineers")))
    assert(pinned.groups(hs256(hsHdr, c("\"https://issuer.example\"",
      "[\"other\",\"graft-api\"]"))).contains(Seq("Data-Engineers")),
      "array aud containing the expected audience must pass")
    assert(pinned.groups(hs256(hsHdr, c("\"https://evil.example\"", "\"graft-api\""))).isEmpty)
    assert(pinned.groups(hs256(hsHdr, c("\"https://issuer.example\"", "\"other-app\""))).isEmpty)
    assert(pinned.groups(hs256(hsHdr,
      s"""{"exp":${now + 3600},"groups":["Data-Engineers"]}""")).isEmpty,
      "missing iss/aud must reject when pinning is configured")
    // expired / not-yet-valid / garbage / truncated
    assert(verifier.groups(hs256(hsHdr, claims("\"Data-Engineers\"", exp = now - 1))).isEmpty)
    assert(verifier.groups(
      hs256(hsHdr, s"""{"nbf":${now + 60},"groups":["Data-Engineers"]}""")).isEmpty)
    assert(verifier.groups("garbage").isEmpty)
    assert(verifier.groups("not.a.jwt").isEmpty)
    // tampered payload: signature over the original no longer matches
    val good = hs256(hsHdr, claims("\"Data-Engineers\""))
    val Array(h, _, s) = good.split('.')
    assert(verifier.groups(s"$h.${b64(claims("\"Data-Admin\""))}.$s").isEmpty)
    // wrong key / unknown kid / alg-substitution (HS256 header pointing
    // at the RSA key must die on key-TYPE mismatch, not verify the HMAC)
    assert(verifier.groups(hs256(hsHdr, claims("\"Data-Engineers\""),
      key = "wrong-secret".getBytes("UTF-8"))).isEmpty)
    assert(verifier.groups(hs256("""{"alg":"HS256","kid":"nope"}""",
      claims("\"Data-Engineers\""))).isEmpty)
    assert(verifier.groups(hs256("""{"alg":"HS256","kid":"rk"}""",
      claims("\"Data-Engineers\""))).isEmpty)

    // end-to-end through the secured facade: the reference's 403 paths
    val policy = new Auth.Policy(verifier, apiTokens = Set.empty)
    val secured = new SecuredGraftApi(api, policy)
    secured.as(rs256(rsHdr, claims("\"Data-Analyst\""))).can("list")
    intercept[Auth.AuthError] { // read group cannot hit an admin verb
      secured.as(rs256(rsHdr, claims("\"Data-Analyst\""))).can("delete")
    }
    secured.as(hs256(hsHdr, claims("\"Data-Engineers\""))).can("upsert")
    secured.as(hs256(hsHdr, claims("\"Data-Admin\""))).can("flush")
    intercept[Auth.AuthError] { // expired admin token is just an invalid token
      secured.as(hs256(hsHdr, claims("\"Data-Engineers\"", exp = now - 1))).can("list")
    }
  }

  test("CLI create pipeline <file> round-trips through upsert (kaly/Readme.md:1-2)") {
    import graft.api.Cli
    val a = api
    val f = java.nio.file.Files.createTempFile("pipe", ".json")
    java.nio.file.Files.writeString(f,
      """{"pipeline_uuid": "cli-made", "description": "from file", "retry_max": 2,
         "concurrency": false, "engine": "spark-local",
         "schedule": "0 4 * * *", "triggers_op": "all",
         "triggers": [{"trigger_uuid": "report-daily", "op": "all"},
                      {"trigger_uuid": "ingest-orders"}]}""")
    assert(Cli.run(a, spark, List("create", "pipeline", f.toString)) == 0)
    val made = a.catalog.describe("cli-made").head
    assert(made.retry_max == 2 && made.schedule.contains("0 4 * * *"))
    val es = a.catalog.edges.filter(_.pipeline_uuid == "cli-made")
    assert(es.map(_.trigger_uuid).sorted.toSeq == Seq("ingest-orders", "report-daily"))
    assert(es.forall(_.op == "all")) // missing op falls back to triggers_op
    // D5 validation still applies through the CLI path: unknown trigger parent
    val bad = java.nio.file.Files.createTempFile("pipe-bad", ".json")
    java.nio.file.Files.writeString(bad,
      """{"pipeline_uuid": "cli-bad", "triggers": [{"trigger_uuid": "no-such-pipeline"}]}""")
    intercept[IllegalArgumentException] { Cli.run(a, spark, List("create", "pipeline", bad.toString)) }
    assert(Cli.run(a, spark, List("bogus")) == 2)
  }

  test("CLI create pipeline pipeline.yaml — the reference doc's exact invocation (r12 verdict #6)") {
    import graft.api.Cli
    val a = api
    val f = java.nio.file.Files.createTempFile("pipe", ".yaml")
    java.nio.file.Files.writeString(f,
      """# kaly create pipeline pipeline.yaml (kaly/Readme.md:1-2)
        |pipeline_uuid: yaml-made
        |description: "from yaml"   # trailing comment
        |retry_max: 3
        |concurrency: true
        |engine: spark-local
        |schedule: '0 5 * * *'
        |triggers_op: all
        |tags_team: core
        |triggers:
        |  - trigger_uuid: report-daily
        |    op: all
        |  - trigger_uuid: ingest-orders
        |""".stripMargin)
    assert(Cli.run(a, spark, List("create", "pipeline", f.toString)) == 0)
    val made = a.catalog.describe("yaml-made").head
    assert(made.retry_max == 3 && made.concurrency &&
      made.schedule.contains("0 5 * * *") && made.description == "from yaml" &&
      made.tags_team.contains("core"), s"yaml fields mis-parsed: $made")
    val es = a.catalog.edges.filter(_.pipeline_uuid == "yaml-made")
    assert(es.map(_.trigger_uuid).sorted.toSeq == Seq("ingest-orders", "report-daily"))
    assert(es.forall(_.op == "all")) // missing op falls back to triggers_op
    // D5 validation applies through the YAML path too
    val bad = java.nio.file.Files.createTempFile("pipe-bad", ".yml")
    java.nio.file.Files.writeString(bad,
      "pipeline_uuid: yaml-bad\ntriggers:\n  - trigger_uuid: no-such-pipeline\n")
    intercept[IllegalArgumentException] { Cli.run(a, spark, List("create", "pipeline", bad.toString)) }
    // out-of-subset YAML fails loudly with file:line, never silently drops
    val blocky = java.nio.file.Files.createTempFile("pipe-block", ".yaml")
    java.nio.file.Files.writeString(blocky, "pipeline_uuid: x\npipeline_body: |\n  line\n")
    val e = intercept[IllegalArgumentException] { Cli.parsePipelineFile(spark, blocky.toString) }
    assert(e.getMessage.contains("block scalars") && e.getMessage.contains(":2:"), e.getMessage)
  }

  test("yamlToJson subset corners: quoting, types, comments-in-quotes") {
    import graft.api.Cli
    val json = Cli.yamlToJson(
      """a: plain words stay one string
        |b: "has # not a comment"
        |c: 'single ''quoted'''
        |d: -3.5e2
        |e: null
        |f: ~
        |g: true
        |""".stripMargin)
    assert(json.contains("\"a\":\"plain words stay one string\""), json)
    assert(json.contains("\"b\":\"has # not a comment\""), json)
    assert(json.contains("\"c\":\"single 'quoted'\""), json)
    assert(json.contains("\"d\":-3.5e2"), json)
    assert(json.contains("\"e\":null") && json.contains("\"f\":null"), json)
    assert(json.contains("\"g\":true"), json)
    intercept[IllegalArgumentException] { Cli.yamlToJson("a: {flow: map}") }
    intercept[IllegalArgumentException] { Cli.yamlToJson("a: *anchor") }
  }

  test("yamlToJson escapes keys and round-trips double-quote escapes fail-loud (r13 ADVICE #4)") {
    import graft.api.Cli
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    // pre-fix: a quote/backslash in a KEY produced malformed JSON that
    // Spark's PERMISSIVE parse nulled silently — now every key goes
    // through the same jstr routine as values, so the output is always
    // well-formed JSON a strict parser accepts
    val json = Cli.yamlToJson(
      "we\"ird: 1\n" +
      "back\\slash: ok\n" +
      "list:\n" +
      "  - ke\"y: v\n")
    val tree = mapper.readTree(json)
    assert(tree.get("we\"ird").asInt == 1, json)
    assert(tree.get("back\\slash").asText == "ok", json)
    assert(tree.get("list").get(0).get("ke\"y").asText == "v", json)
    // double-quoted scalars: the supported escapes round-trip exactly...
    val esc = mapper.readTree(Cli.yamlToJson(
      """a: "tab\there"
        |b: "line\nbreak"
        |c: "back\\slash and \"quote\""
        |""".stripMargin))
    assert(esc.get("a").asText == "tab\there", esc)
    assert(esc.get("b").asText == "line\nbreak", esc)
    assert(esc.get("c").asText == "back\\slash and \"quote\"", esc)
    // ...and an out-of-subset escape REJECTS loudly instead of mangling
    val e = intercept[IllegalArgumentException] { Cli.yamlToJson("a: \"uni\\u0041code\"") }
    assert(e.getMessage.contains("unsupported escape"), e.getMessage)
    intercept[IllegalArgumentException] { Cli.yamlToJson("a: \"dangling\\\"") }
  }

  test("CLI mutating verbs: run/delete/flush/abort drive the same API paths") {
    import graft.api.Cli
    val a = api
    // run: a known root pipeline submits (origination -> engine submit)
    assert(Cli.run(a, spark, List("run", "ingest-orders")) == 0)
    // run: unknown pipeline produces no submission -> exit 1 (facade 404 analog)
    assert(Cli.run(a, spark, List("run", "no-such-pipeline")) == 1)
    // abort on a finished/unknown exec is a tolerated no-op (engine 404 path)
    assert(Cli.run(a, spark, List("abort", "exec-nope")) == 0)
    // delete: guard refuses a pipeline with downstream deps through the CLI too
    intercept[IllegalArgumentException] { Cli.run(a, spark, List("delete", "ingest-orders")) }
    // create a leaf, delete it via CLI
    val f = java.nio.file.Files.createTempFile("leaf", ".json")
    java.nio.file.Files.writeString(f, """{"pipeline_uuid": "cli-leaf"}""")
    assert(Cli.run(a, spark, List("create", "pipeline", f.toString)) == 0)
    assert(Cli.run(a, spark, List("delete", "cli-leaf")) == 0)
    assert(a.catalog.describe("cli-leaf").isEmpty)
    // flush by prefix removes the whole family (D7 through the CLI)
    Seq("fam-a", "fam-b").foreach { u =>
      val g = java.nio.file.Files.createTempFile(u, ".json")
      java.nio.file.Files.writeString(g, s"""{"pipeline_uuid": "$u"}""")
      assert(Cli.run(a, spark, List("create", "pipeline", g.toString)) == 0)
    }
    assert(Cli.run(a, spark, List("flush", "fam-")) == 0)
    assert(a.catalog.list(prefix = Some("fam-")).isEmpty)
  }

  test("native dot == interpreted HOF dot, bit for bit") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, SparkSuite.sfDir).limit(50)
    val pairs = emb.toDF("ia", "ea", "la").crossJoin(emb.toDF("ib", "eb", "lb")).limit(500)
    val diff = pairs.select(
      graft.operators.Vectors.dot(col("ea"), col("eb")).as("native"),
      graft.operators.Vectors.dotHof(col("ea"), col("eb")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }
}
