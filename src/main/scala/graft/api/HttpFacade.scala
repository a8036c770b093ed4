package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit}

import graft.model._
import graft.orchestration.{Dispatcher, EngineJob}
import graft.orchestration.Dispatcher.IncubRow

/** The network-facing adapter — the reference's FastAPI surface
  * (`/root/reference/src/kalytical/facade.py:30-126`, 18 endpoints)
  * as one thin file over [[SecuredGraftApi]]: route → verb → role gate
  * → engine, nothing else. Built on the JDK's embedded
  * `com.sun.net.httpserver` (zero added dependencies — the constraint
  * a sandboxed build shares with a hermetic production image).
  *
  * Request/response conventions:
  *  - bearer auth via `Authorization: Bearer <token>`, exactly the
  *    reference's `HTTPBearer` dependency; [[Auth.AuthError]] maps to
  *    its own status code, `require`/IllegalArgument to 400 (the
  *    FastAPI HTTPException(400) paths), anything else to 500.
  *  - tabular results stream out as JSON arrays via Spark's own
  *    row-to-JSON (`df.toJSON`) — no hand-rolled serializer to drift
  *    from the schema.
  *  - request BODIES parse through Spark too: `spark.read.schema(...)
  *    .json(...)` against the case-class encoder schema, so the HTTP
  *    boundary enforces exactly the engine's schema and nothing else
  *    (a malformed field is a null under permissive mode → the same
  *    validation the library path applies).
  *
  * STATE: the reference keeps running/incubating/event-log state in
  * Mongo + K8s; the library API threads them per call. The facade is
  * where a deployment holds them between requests, so it owns the
  * event-loop contract:
  *   incubating' = newIncubating ∪ deferred
  * (newIncubating is the step's complete kept state — see applyStep)
  * and the event log appends each posted lifecycle event. One global
  * lock serializes mutating verbs — metadata-plane traffic (catalog-
  * sized, the reference's own regime); read verbs hit immutable
  * snapshots and run unlocked. Scale note: the data plane never flows
  * through this surface — dispatch inputs and outputs are bounded by
  * the catalog (10²–10⁴ pipelines, the reference's regime), the live
  * state and the batch, and [[graft.orchestration.Dispatcher.step]]
  * folds them on the driver.
  */
final class HttpFacade(secured: SecuredGraftApi, spark: SparkSession,
                       nowProvider: () => Timestamp =
                         () => new Timestamp(System.currentTimeMillis()),
                       // live service-health entries merged into GET
                       // /sys/config (r12 advice: a permanently-failing
                       // MQ ingest must degrade LOUDLY — the service
                       // injects its mq_ingest_health flag here)
                       extraSysConfig: () => Map[String, String] = () => Map.empty,
                       // named admin actions served by POST /sys/config
                       // ?action=<name> (r13 ADVICE #2: the MQ halt flag
                       // needed a reset path short of a process restart);
                       // admin role (the flush verb class), unknown
                       // action -> 400
                       sysActions: Map[String, () => String] = Map.empty) {

  private val api = secured.api
  private def emptyIncub = spark.emptyDataset[IncubRow](Encoders.product[IncubRow])
  private def emptyRunning = spark.emptyDataset[RunningJob](Encoders.product[RunningJob])
  private def emptyEvents = spark.emptyDataset[LifecycleEvent](Encoders.product[LifecycleEvent])

  private[graft] val running = new AtomicReference[Dataset[RunningJob]](emptyRunning)
  private[graft] val incubating = new AtomicReference[Dataset[IncubRow]](emptyIncub)
  private[graft] val eventLog = new AtomicReference[Dataset[LifecycleEvent]](emptyEvents)
  private val mutate = new Object

  /** Where dispatcher submissions GO. Standalone facade: nowhere (the
    * route returns them to the caller — the library regime).
    * [[GraftService]] installs engine submission here, so an
    * HTTP-posted event, an MQ message, a culler release and a cron
    * firing all reach the engine through one path — exactly the
    * reference, where the dispatcher's queue_pipeline submits
    * (`dispatcher.py:70-86`) no matter who invoked it. */
  private[graft] val submissionSink =
    new AtomicReference[Seq[Submission] => Unit](_ => ())

  /** Fires after any NON-dispatch incubation mutation (the three point
    * ops: update / delete / flush) so a durability layer can persist
    * the new state — without this, a service restart would resurrect
    * rows an operator explicitly deleted (r7 review #1). */
  private[graft] val mutationHook = new AtomicReference[() => Unit](() => ())

  /** Fires after any CATALOG mutation (upsert / delete / flush of
    * pipeline defs) so a durability layer can save defs+edges through
    * its MetaStore — without this, HTTP catalog changes were lost on
    * restart while incubation state survived (r7 review). */
  private[graft] val catalogHook = new AtomicReference[() => Unit](() => ())

  /** Fires with each batch of APPLIED lifecycle events (HTTP /event
    * and internal ingest). Standalone facade: an in-memory log union,
    * its only history. A durability layer installs an incremental
    * append to its history sink instead — rewriting the full history
    * per dispatch would be quadratic lifetime I/O (r7 review #3). */
  private[graft] val eventSink =
    new AtomicReference[Seq[LifecycleEvent] => Unit](events =>
      eventLog.set(eventLog.get().unionByName(
        spark.createDataset(events)(Encoders.product[LifecycleEvent]))))

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Bind and serve. `port = 0` picks an ephemeral port; the bound
    * address is returned (the spec's loopback-client hook). */
  def start(port: Int = 0): InetSocketAddress = synchronized {
    require(server == null, "facade already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    pool = Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    routes.foreach { case (path, methods) =>
      server.createContext(path, (ex: HttpExchange) => handle(ex, methods))
    }
    server.start()
    server.getAddress
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    // HttpServer.stop does NOT stop a user-supplied executor: without
    // this, every start/stop cycle leaked 4 non-daemon threads and an
    // embedded shutdown never let the JVM exit (r7 review)
    if (pool != null) { pool.shutdown(); pool = null }
  }

  // ---- routing ----------------------------------------------------------

  private type Handler = Request => String

  private final case class Request(params: Map[String, String], body: String,
                                   session: SecuredGraftApi#Session) {
    def param(name: String): String = params.getOrElse(name,
      throw new IllegalArgumentException(s"missing required parameter: $name"))
    def opt(name: String): Option[String] = params.get(name)
  }

  /** The 18 reference routes (`facade.py:30-126`), method-checked.
    * Path quirks preserved verbatim: `/pipeline_config/fetch_pipeline_body`
    * and `/pipeline_incubation/flush` really are underscored in the
    * reference. */
  private val routes: Seq[(String, Map[String, Handler])] = Seq(
    "/pipeline/config/list" -> Map[String, Handler]("POST" -> { r =>
      json(r.session.listPipelines(r.opt("pipeline_prefix"),
        r.opt("tag_team"), r.opt("tag_env")))
    }),
    "/pipeline/config/describe" -> Map[String, Handler]("GET" -> { r =>
      json(r.session.describePipeline(r.param("pipeline_uuid")).toDF())
    }),
    "/pipeline/config/downstream" -> Map[String, Handler]("GET" -> { r =>
      json(r.session.downstream(r.param("pipeline_uuid")))
    }),
    "/pipeline_config/fetch_pipeline_body" -> Map[String, Handler]("GET" -> { r =>
      json(r.session.fetchBody(r.param("pipeline_uuid")))
    }),
    "/pipeline/config/create_or_replace" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("upsert") // auth BEFORE body-parse driver work (r7 review)
      val (d, triggers) = parseUpsert(r.body)
      mutate.synchronized {
        r.session.upsertPipeline(d, triggers)
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/config/delete" -> Map[String, Handler]("DELETE" -> { r =>
      mutate.synchronized {
        r.session.deletePipeline(r.param("pipeline_uuid"),
          r.opt("safe_delete").forall(_.toBoolean))
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/config/flush" -> Map[String, Handler]("DELETE" -> { r =>
      mutate.synchronized {
        r.session.flushPipelines(r.param("pipeline_prefix"))
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/dispatcher/run_by_pipeline_uuid" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("dispatch")
      val now = reqNow(r)
      // the synthesized origination is a REAL lifecycle event: it
      // joins the history log and the durability sink like every
      // other ingress — manual runs used to leave no trace (r7
      // review), unlike cron-fired runs of the same pipeline.
      // Routed through [[ingest]] (r10 review: this handler carried a
      // THIRD inline copy of the state contract, and its copy had the
      // durable append BEFORE applyStep with no rollback — a failed
      // apply left a logged-but-never-applied event, exactly the
      // permanent-loss window the r8 append-last ordering closed).
      val ev = api.manualOrigination(r.param("pipeline_uuid"), now)
      subsJson(ingest(Seq(ev), now))
    }),
    "/pipeline/dispatcher/run_single_use" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("runSingleUse") // auth before body-parse work
      val (d, argv, env) = parseSingleUse(r.body)
      val exec = mutate.synchronized {
        r.session.runSingleUse(d, EngineJob.Command(argv, env))
      }
      s"""{"exec_uuid":${jstr(exec)}}"""
    }),
    "/pipeline/dispatcher/running" -> Map[String, Handler]("GET" -> { r =>
      json(r.session.runningJobs(
        statuses = r.opt("statuses").map(_.split(",").toSeq)
          .getOrElse(Seq("running", "waiting", "pending")),
        pipelineUuid = r.opt("pipeline_uuid"),
        limit = r.opt("limit").map(_.toInt).getOrElse(10)))
    }),
    "/pipeline/dispatcher/get_logs" -> Map[String, Handler]("GET" -> { r =>
      val backend = api.engines.backend(
        r.opt("engine_name").getOrElse("spark-local"))
      val logs = r.session.logs(backend, r.param("engine_tracking_id"),
        r.opt("max_kb").map(_.toInt).getOrElse(10))
      s"""{"logs":${jstr(logs)}}"""
    }),
    "/pipeline/dispatcher/abort_pipeline" -> Map[String, Handler]("DELETE" -> { r =>
      mutate.synchronized { r.session.abort(r.param("engine_tracking_id")) }
      ok
    }),
    "/pipeline/dispatcher/event" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("dispatch") // auth first; parse OUTSIDE the global
      // lock — an anonymous flood used to run Spark JSON jobs while
      // serializing every authorized mutation (r7 review)
      val now = reqNow(r)
      // SINK-STAMP received_time, the MQ-ingress contract (r10 review:
      // a null/ancient producer stamp hides the event from the
      // history window and the durable dedup horizon — the exact r8
      // finding GraftService fixed for MQ, left open on HTTP)
      val events = parseEvents(r.body).map(_.copy(received_time = now))
      // ONE ingress path: ingest() owns the apply→append ordering
      // (r10 review: this handler carried an inline copy of the
      // contract)
      subsJson(ingest(events, now))
    }),
    "/pipeline/dispatcher/event/history" -> Map[String, Handler]("GET" -> { r =>
      json(r.session.eventHistory(eventLog.get(), reqNow(r),
        pipelineUuid = r.opt("pipeline_uuid"),
        sinceSeconds = r.opt("since_seconds").map(_.toLong),
        maxRecords = r.opt("max_records").map(_.toInt)))
    }),
    "/pipeline/incubation/update" -> Map[String, Handler]("GET" -> { r =>
      // (sic) the reference gates this mutation behind GET, facade.py:109
      r.session.can("incubationUpdate") // auth before body-parse work
      val updates = parseUpdates(r.body)
      mutate.synchronized {
        val updated = r.session.updateIncubating(incubating.get(),
          r.param("obj_id"), updates)
        incubating.set(updated)
        mutationHook.get()()
        json(incubating.get().drop("triggers")) // map column: header view, like D14's
      }
    }),
    "/pipeline/incubation/delete" -> Map[String, Handler]("DELETE" -> { r =>
      mutate.synchronized {
        incubating.set(r.session.deleteIncubating(incubating.get(), r.param("obj_id")))
        mutationHook.get()()
      }
      ok
    }),
    "/pipeline_incubation/flush" -> Map[String, Handler]("DELETE" -> { r =>
      mutate.synchronized {
        incubating.set(r.session.flushIncubating())
        mutationHook.get()()
      }
      ok
    }),
    "/sys/config" -> Map[String, Handler](
      "GET" -> { r =>
        (r.session.sysConfig ++ extraSysConfig()).toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
          .mkString("{", ",", "}")
      },
      // admin actions (r13 ADVICE #2) — same path, POST, so the
      // reference's 18-route surface stays pinned while the service
      // gains an in-band reset lever (e.g. clear_mq_ingest_health)
      "POST" -> { r =>
        r.session.can("flush") // admin verb class, BEFORE arg parsing
        val name = r.param("action")
        val act = sysActions.getOrElse(name, throw new IllegalArgumentException(
          s"unknown action '$name'; known: ${sysActions.keys.toSeq.sorted.mkString(", ")}"))
        s"""{"action":${jstr(name)},"result":${jstr(act())}}"""
      })
  )

  /** Route-table cardinality — the spec pins it to the reference's 18
    * endpoints so a dropped route fails loudly. */
  def routeCount: Int = routes.size

  /** Internal ingress for the service loops ([[GraftService]]'s MQ
    * poller, culler tick and cron tick) — the same lock + state
    * contract as `POST /pipeline/dispatcher/event`, minus HTTP parsing
    * and auth: the reference's poller and culler also call the
    * dispatcher directly, not their own HTTP surface
    * (`mq_poller.py:25`, `job_culler.py:27`). An EMPTY event batch is
    * a pure culler pass (debounce/age-out rules fire against `now`).
    * Returns the step's submissions — catalog-bounded. */
  private[graft] def ingest(events: Seq[LifecycleEvent], now: Timestamp): Seq[Submission] =
    mutate.synchronized {
      val res = api.dispatch(events, running.get(), incubating.get(), now)
      // The log append (eventSink) happens AFTER applyStep succeeds, so
      // presence-in-the-log ⇒ effects applied & persisted, and a failed
      // step leaves no trace for the dedup probe. With the MQ replay
      // dedup keyed on the durable log, the old append-first order
      // turned a crash between append and apply into PERMANENT event
      // loss (the replay matched the log and no-op'd; r8 review #1) —
      // append-last restores at-least-once for that window, which the
      // dedup then bounds to exactly that window.
      val subs = applyStep(res)
      if (events.nonEmpty) eventSink.get()(events)
      subs
    }

  /** Idempotent MQ ingress: drop events whose `event_id` is already in
    * the log within the horizon, dispatch the remainder — probe and
    * step under ONE lock acquisition, so no concurrent step can apply
    * (and log) a probed id between the probe and this dispatch — an
    * unlocked probe would let both apply it. Since the log append runs
    * AFTER effects ([[ingest]]), a logged id always means an applied
    * event. Returns the fresh set. */
  private[graft] def ingestDedup(events: Seq[LifecycleEvent], now: Timestamp,
      horizonCutoff: Timestamp): Seq[LifecycleEvent] =
    mutate.synchronized {
      val fresh =
        if (events.isEmpty) events
        else {
          val ids = events.map(_.event_id)
          val seen = eventLog.get()
            .where(col("received_time") >= lit(horizonCutoff) &&
              col("event_id").isin(ids: _*))
            .select("event_id").collect().map(_.getLong(0)).toSet
          events.filterNot(e => seen(e.event_id))
        }
      if (fresh.nonEmpty) ingest(fresh, now)
      fresh
    }

  /** One culler pass IF anything is incubating — the emptiness check
    * and the step run under ONE lock acquisition. Checked outside the
    * lock (the old [[GraftService.cullTick]] shape), the then files-
    * backed snapshot could be invalidated mid-scan by two interleaved
    * persistState generations overwriting its ping-pong dir
    * (FAILED_READ_FILE → a silently skipped cull pass; r7 advice). */
  private[graft] def cullStep(now: Timestamp): Unit =
    mutate.synchronized {
      // reentrant lock: the emptiness pre-check and the step share ONE
      // acquisition, and the step itself is [[ingest]]'s empty-batch
      // branch — one code path, so a future change to the state
      // contract cannot silently diverge between the event ingress and
      // the culler (r8 review #6)
      if (!incubating.get().isEmpty) { ingest(Seq.empty, now); () }
    }

  /** Refresh the concurrency-gate snapshot from live engine state —
    * the service calls this after submitting so the next dispatch
    * gates against what is actually running. */
  private[graft] def refreshRunning(): Unit =
    running.set(api.engines.allJobs(spark))

  /** The event-loop state contract (see class doc): `newIncubating`
    * IS the complete post-step state — every old row flows through the
    * step's per-key fold (kept, released, or dropped), so the fold is a
    * replacement, not a merge. The previous merge formulation
    * (`(incubating − droppedObjIds) ∪ newIncubating ∪ deferred`) left
    * RELEASED rows behind (droppedObjIds only carries age-outs) and
    * duplicated kept rows — caught by GraftServiceSpec's
    * slot-consumed assertion (r7).
    *
    * The step's outputs are local relations: the new state is their
    * rows concatenated on the driver (a Spark union of two local
    * relations would start a job when read), and the submissions are
    * returned for the caller's response. */
  private def applyStep(res: Dispatcher.StepResult): Seq[Submission] = {
    incubating.set(spark.createDataset(
      (res.newIncubating.collect() ++ res.deferred.collect()).toSeq)(Encoders.product[IncubRow]))
    val subs = res.submissions.collect().toSeq
    submissionSink.get()(subs)
    subs
  }

  /** Collected submissions → the same JSON array `df.toJSON` yields. */
  private def subsJson(subs: Seq[Submission]): String =
    json(spark.createDataset(subs)(Encoders.product[Submission]).toDF())

  // ---- request plumbing -------------------------------------------------

  private def handle(ex: HttpExchange, methods: Map[String, Handler]): Unit = {
    val out =
      try {
        methods.get(ex.getRequestMethod) match {
          case None => (405, s"""{"error":"method not allowed"}""")
          case Some(h) =>
            // a real RFC 6750 scheme check: `stripPrefix("Bearer")`
            // accepted "Basic ..." verbatim and fused "BearerXYZ" into
            // token "XYZ" (r7 review); wrong/malformed schemes now
            // resolve to anonymous and 403 at the verb gate
            val token = Option(ex.getRequestHeaders.getFirst("Authorization")).flatMap { h =>
              h.trim.split("\\s+", 2) match {
                case Array(scheme, tok) if scheme.equalsIgnoreCase("Bearer") && tok.nonEmpty =>
                  Some(tok.trim)
                case _ => None
              }
            }
            val session = token.map(secured.as).getOrElse(secured.anonymous)
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            (200, h(Request(queryParams(ex), body, session)))
        }
      } catch {
        case e: Auth.AuthError => (e.statusCode, s"""{"error":${jstr(e.message)}}""")
        case e: IllegalArgumentException => (400, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
        case e: Throwable => (500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      }
    val bytes = out._2.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(out._1, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty).map {
      _.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
          case Array(k) => Some(URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** Request-time 'now': the `now_epoch_ms` override is the
    * DETERMINISTIC-TIME affordance (specs drive culler aging and cron
    * minutes through it), trusted by DESIGN and bounded by auth, not
    * validation (r12 review weighed gating it): every route where the
    * override reaches STATE — event stamping, dispatch rules, manual
    * runs — is already admin-gated ("dispatch"/"runByPipelineUuid" →
    * admin in [[Auth.VerbRoles]]), so a caller who can spoof
    * received_time can already mutate anything; the one read-role use
    * (history) only shifts that caller's own view window. A deployment
    * that must not trust admins with time injects `nowProvider` and
    * strips the parameter at its ingress proxy. */
  private def reqNow(r: Request): Timestamp =
    r.opt("now_epoch_ms").map(ms => new Timestamp(ms.toLong)).getOrElse(nowProvider())

  // ---- body parsing (Spark-native, schema-enforced) ---------------------

  private def oneRowJson(body: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    // corrupt capture: permissive mode turns syntactically broken JSON
    // into one all-null row, which used to pass the count check and
    // surface later as an encoder NPE → 500 instead of the intended
    // 400 (r7 review)
    val parseSchema = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt", org.apache.spark.sql.types.StringType, nullable = true))
    val rows = spark.read.schema(parseSchema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .json(Seq(body).toDS())
    require(rows.count() == 1, "request body must be a single JSON object")
    require(rows.where(col("_corrupt").isNotNull).isEmpty, "malformed JSON in request body")
    val df = rows.drop("_corrupt")
    val head = df.head()
    require((0 until head.length).exists(i => !head.isNullAt(i)),
      "request body must be a single JSON object with recognized fields")
    df
  }

  private def parseUpsert(body: String): (PipelineDef, Seq[PipelineTrigger]) = {
    val defSchema = Encoders.product[PipelineDef].schema
    val trigSchema = Encoders.product[PipelineTrigger].schema
    val schema = new org.apache.spark.sql.types.StructType()
      .add("def", defSchema).add("triggers",
        org.apache.spark.sql.types.ArrayType(trigSchema))
    val df = oneRowJson(body, schema)
    val d = df.select("def.*").as[PipelineDef](Encoders.product[PipelineDef]).head()
    val triggers = df.select(explode(col("triggers")).as("t")).select("t.*")
      .as[PipelineTrigger](Encoders.product[PipelineTrigger]).collect().toSeq
    (d, triggers)
  }

  private def parseSingleUse(body: String): (PipelineDef, Seq[String], Map[String, String]) = {
    val defSchema = Encoders.product[PipelineDef].schema
    val schema = new org.apache.spark.sql.types.StructType()
      .add("def", defSchema)
      .add("argv", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
      .add("env", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    val df = oneRowJson(body, schema)
    val d = df.select("def.*").as[PipelineDef](Encoders.product[PipelineDef]).head()
    val row = df.head()
    val argv = Option(row.getSeq[String](1)).getOrElse(
      throw new IllegalArgumentException("missing argv"))
    val env = Option(row.getJavaMap[String, String](2))
      .map(m => scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap)
      .getOrElse(Map.empty[String, String])
    (d, argv, env)
  }

  private def parseEvents(body: String): Seq[LifecycleEvent] = {
    import spark.implicits._
    // accepts one event object or an array of them (Spark's JSON
    // reader explodes a top-level array into rows)
    val evs =
      try spark.read.schema(Encoders.product[LifecycleEvent].schema)
        .json(Seq(body).toDS())
        .as[LifecycleEvent](Encoders.product[LifecycleEvent]).collect().toSeq
      catch {
        // permissive parse + a missing non-nullable field surfaces as
        // an encoder RuntimeException — map it to the 400 the boundary
        // contract promises (r10 review: the r7 oneRowJson hardening
        // never reached this route)
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"malformed lifecycle event body: ${String.valueOf(e.getMessage).take(200)}")
      }
    require(evs.nonEmpty, "no lifecycle events in request body")
    // the reserved-negative-id invariant holds at EVERY ingress, not
    // just the MQ path (r9 advice): external producers own the
    // non-negative id half-space, engine callbacks own the negatives
    // (GraftService.callbackIds) — an HTTP producer minting a negative
    // id would alias a logged callback in the durable event log and
    // undermine the uniqueness/forensics contract. require → 400,
    // mirroring the EventIngest quarantine split.
    require(evs.forall(_.event_id >= 0),
      s"negative event_id is reserved for engine callbacks: " +
        evs.filter(_.event_id < 0).map(_.event_id).mkString(","))
    evs
  }

  private def parseUpdates(body: String): Map[String, String] = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("updates", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    val row = oneRowJson(body, schema).head()
    Option(row.getJavaMap[String, String](0))
      .map(m => scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap)
      .getOrElse(throw new IllegalArgumentException("missing updates map"))
  }

  // ---- serialization ----------------------------------------------------

  /** Tabular → JSON array via Spark's row serializer (schema-true:
    * timestamps ISO, maps as objects, null columns omitted). Catalog/
    * dispatch-sized results only — nothing data-plane crosses here. */
  private def json(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  private val ok = """{"ok":true}"""

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
