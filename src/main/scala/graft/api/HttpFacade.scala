package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.model._
import graft.orchestration.{Dispatcher, EngineBackend, EngineJob, EventHistory, EventTail, LoggedIds}
import graft.orchestration.Dispatcher.IncubRow

/** The network-facing adapter — the reference's FastAPI surface
  * (`kalytical/facade.py:30-126`, 18 endpoints) as one thin file over
  * [[SecuredGraftApi]]: route → role gate → [[GraftApi]] verb, nothing
  * else. Every route gates its verb with `can` before any other work
  * (parsing a body, resolving a parameter, taking the lock). Built on
  * the JDK's embedded `com.sun.net.httpserver` (zero added dependencies
  * — the constraint a sandboxed build shares with a hermetic production
  * image).
  *
  * Request/response conventions:
  *  - bearer auth via `Authorization: Bearer <token>`, exactly the
  *    reference's `HTTPBearer` dependency; [[Auth.AuthError]] maps to
  *    its own status code, `require`/IllegalArgument to 400 (the
  *    FastAPI HTTPException(400) paths), anything else to 500.
  *  - request bodies and row responses go through one driver-side
  *    [[JsonCodec]] (Jackson): bodies read by the case-class schema
  *    the way Spark's JSON reader did, a malformed body is a 400, and
  *    rows go out the way Spark's row serializer wrote them (null
  *    fields omitted, ISO timestamps, maps as objects). Dispatch, the
  *    catalog routes and the read routes plan no Spark query; only a
  *    history window older than the tail reads the log.
  *
  * STATE: the reference keeps running/incubating/event-log state in
  * Mongo + K8s and answers each request with a few document lookups
  * (`dispatcher.py:15-68`). The facade holds the same state between
  * requests as plain driver values:
  *  - the catalog, [[GraftApi.catalog]], a new value per catalog
  *    mutation;
  *  - the incubation rows, replaced by each step:
  *      incubating' = newIncubating ∪ deferred
  *    (newIncubating is the step's complete kept state — see applyStep);
  *  - the concurrency gate's live runs ([[running]]): the journal's
  *    open runs, set by [[GraftService]] after each journal write, and
  *    the single-use runs, held in memory. A dispatch step reads no
  *    engine unless the gate would defer a candidate behind one of
  *    these runs; then the engines decide (see `gatedStep`);
  *  - the recent end of the event log ([[EventTail]]) and the logged ids
  *    the MQ replay probe reads ([[LoggedIds]]).
  * `describe`, `list`, `downstream`, `fetch_pipeline_body` and a
  * covered `event/history` window read these values (the `running`
  * route reads the engines, E2); a history
  * window older than the tail falls back to the whole log. One global
  * lock serializes mutating verbs — metadata-plane traffic (catalog-
  * sized, the reference's own regime); read verbs hit immutable
  * values and run unlocked. The data plane never flows through this
  * surface: dispatch inputs and outputs are bounded by the catalog
  * (10²–10⁴ pipelines, the reference's regime), the live state and the
  * batch, and [[graft.orchestration.Dispatcher.step]] folds them on the
  * driver.
  */
final class HttpFacade(secured: SecuredGraftApi, spark: SparkSession,
                       nowProvider: () => Timestamp =
                         () => new Timestamp(System.currentTimeMillis()),
                       // live service-health entries merged into GET
                       // /sys/config (a failing MQ ingest must degrade
                       // LOUDLY — the service injects its
                       // mq_ingest_health entry here)
                       extraSysConfig: () => Map[String, String] = () => Map.empty,
                       // named admin actions served by POST /sys/config
                       // ?action=<name> (the MQ health entry needs a
                       // reset short of a process restart);
                       // admin role (the flush verb class), unknown
                       // action -> 400
                       sysActions: Map[String, () => String] = Map.empty) {

  private val api = secured.api
  private[graft] val codec = JsonCodec.forSession(spark)

  /** Driver-held state rows; `get()` is their local-Dataset view.
    * `running` is the concurrency gate's ledger: the runs this service
    * started and has not seen end — the journal's open outbox
    * ([[openRuns]]) and the single-use runs, which the journal does not
    * hold and which leave on a terminal event, an abort or an engine
    * read that reports them ended ([[GraftService]]'s culler tick makes
    * one). */
  private[graft] val running = new HttpFacade.Rows(spark, EngineBackend.RunningJobEnc)
  private var journaled = Vector.empty[RunningJob] // guarded by mutate
  private var singleUse = Vector.empty[RunningJob] // guarded by mutate
  private[graft] val incubating = new HttpFacade.Rows(spark, Encoders.product[IncubRow])
  /** The whole event log, the history fallback: `get()` builds the
    * compacted parquet ∪ the events held since. Standalone facade: all
    * held; [[GraftService]] compacts it on the culler tick. */
  private[graft] val eventLog = new EventHistory(spark)
  private[graft] val tail = new EventTail(api.cfg.historySinceSeconds)
  private[graft] val loggedIds = new LoggedIds(api.cfg.mqDedupHorizonDays * 86400000L)
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

  /** Makes a mutation durable BEFORE it takes effect: a dispatch step
    * (its events, the incubation rows it leaves and its submissions),
    * an incubation point op (update / delete / flush — without it a
    * restart would resurrect rows an operator deleted, r7 review #1) and
    * an abort. Standalone facade: nothing; [[GraftService]] installs its
    * journal here. A throw leaves the mutation unapplied. */
  private[graft] val commitHook = new AtomicReference[HttpFacade.Commit => Unit](_ => ())

  /** Fires after any CATALOG mutation (upsert / delete / flush of
    * pipeline defs) so a durability layer can save defs+edges through
    * its MetaStore — without this, HTTP catalog changes were lost on
    * restart while incubation state survived (r7 review). */
  private[graft] val catalogHook = new AtomicReference[() => Unit](() => ())

  /** Fires with each batch of APPLIED lifecycle events (HTTP /event
    * and internal ingest), after the batch's effects: it appends them
    * to the driver-held end of [[eventLog]]. The batch was made durable
    * by [[commitHook]] before its effects. */
  private[graft] val eventSink =
    new AtomicReference[Seq[LifecycleEvent] => Unit](eventLog.append)

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
    * reference. Each route gates its verb with `can` first — an
    * anonymous flood must not parse bodies or serialize authorized
    * mutations behind the lock (r7 review) — then works on the driver
    * values. */
  private val routes: Seq[(String, Map[String, Handler])] = Seq(
    "/pipeline/config/list" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("list")
      codec.rows(api.catalog.list(r.opt("pipeline_prefix"), r.opt("tag_team"),
        r.opt("tag_env")), _ != "pipeline_body")
    }),
    "/pipeline/config/describe" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("describe")
      codec.rows(api.catalog.describe(r.param("pipeline_uuid")))
    }),
    "/pipeline/config/downstream" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("downstream")
      codec.rows(api.catalog.downstream(r.param("pipeline_uuid")), _ != "pipeline_body")
    }),
    "/pipeline_config/fetch_pipeline_body" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("head")
      codec.rows(api.catalog.describe(r.param("pipeline_uuid")),
        Set("pipeline_uuid", "pipeline_body"))
    }),
    "/pipeline/config/create_or_replace" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("upsert")
      val (d, triggers) = codec.upsert(r.body)
      mutate.synchronized {
        api.upsertPipeline(d, triggers)
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/config/delete" -> Map[String, Handler]("DELETE" -> { r =>
      r.session.can("delete")
      mutate.synchronized {
        api.deletePipeline(r.param("pipeline_uuid"), r.opt("safe_delete").forall(_.toBoolean))
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/config/flush" -> Map[String, Handler]("DELETE" -> { r =>
      r.session.can("flush")
      mutate.synchronized {
        api.flushPipelines(r.param("pipeline_prefix"))
        catalogHook.get()()
      }
      ok
    }),
    "/pipeline/dispatcher/run_by_pipeline_uuid" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("runByPipelineUuid") // facade.py:72
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
      codec.rows(ingest(Seq(ev), now))
    }),
    "/pipeline/dispatcher/run_single_use" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("runSingleUse")
      val (d, argv, env) = codec.singleUse(r.body)
      val exec = mutate.synchronized {
        val exec = api.runSingleUse(d, EngineJob.Command(argv, env))
        singleUse :+= HttpFacade.ledgerRow(d.pipeline_uuid, exec)
        running.set(journaled ++ singleUse)
        exec
      }
      codec.obj("exec_uuid" -> exec)
    }),
    "/pipeline/dispatcher/running" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("running")
      codec.rows(api.engines.filteredRows(spark,
        statuses = r.opt("statuses").map(_.split(",").toSeq)
          .getOrElse(Seq("running", "waiting", "pending")),
        pipelineUuid = r.opt("pipeline_uuid"),
        limit = r.opt("limit").map(_.toInt).getOrElse(10)))
    }),
    "/pipeline/dispatcher/get_logs" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("logs")
      val backend = api.engines.backend(r.opt("engine_name").getOrElse("spark-local"))
      codec.obj("logs" -> api.logs(backend, r.param("engine_tracking_id"),
        r.opt("max_kb").map(_.toInt).getOrElse(10)))
    }),
    "/pipeline/dispatcher/abort_pipeline" -> Map[String, Handler]("DELETE" -> { r =>
      r.session.can("abort")
      mutate.synchronized {
        val token = r.param("engine_tracking_id")
        // the runs the token names (an exec_uuid or a tracking id),
        // resolved before the abort: a backend whose aborted runs vanish
        // (a deleted pod) no longer reports them after it
        val named = (token +: api.engines.allRows(spark).collect {
          case j if j.engine_tracking_id == token => j.exec_uuid
        }).distinct
        api.abort(token)
        closeRuns(named)
      }
      ok
    }),
    "/pipeline/dispatcher/event" -> Map[String, Handler]("POST" -> { r =>
      r.session.can("dispatch")
      val now = reqNow(r)
      // SINK-STAMP received_time, the MQ-ingress contract (r10 review:
      // a null/ancient producer stamp hides the event from the
      // history window and the durable dedup horizon — the exact r8
      // finding GraftService fixed for MQ, left open on HTTP)
      // (the codec rejects an external negative event_id → 400)
      val events = codec.events(r.body).map(_.copy(received_time = now))
      // ONE ingress path: ingest() owns the apply→append ordering
      // (r10 review: this handler carried an inline copy of the
      // contract)
      codec.rows(ingest(events, now))
    }),
    "/pipeline/dispatcher/event/history" -> Map[String, Handler]("GET" -> { r =>
      r.session.can("history")
      val now = reqNow(r)
      val since = r.opt("since_seconds").map(_.toLong).getOrElse(api.cfg.historySinceSeconds)
      val max = r.opt("max_records").map(_.toInt).getOrElse(api.cfg.historyMaxRecords)
      val pipeline = r.opt("pipeline_uuid")
      codec.rows(tail.history(now.getTime - since * 1000L, pipeline, max).getOrElse(
        api.eventHistory(eventLog.get(), now, pipeline, Some(since), Some(max))
          .as[LifecycleEvent](Encoders.product[LifecycleEvent]).collect().toSeq))
    }),
    "/pipeline/incubation/update" -> Map[String, Handler]("GET" -> { r =>
      // (sic) the reference gates this mutation behind GET, facade.py:109
      r.session.can("incubationUpdate")
      val updates = codec.updates(r.body)
      mutate.synchronized {
        replaceIncubating(api.updateIncubating(incubating.rows, r.param("obj_id"), updates))
        codec.rows(incubating.rows, _ != "triggers") // map column: header view, like D14's
      }
    }),
    "/pipeline/incubation/delete" -> Map[String, Handler]("DELETE" -> { r =>
      r.session.can("incubationDelete")
      mutate.synchronized {
        replaceIncubating(api.deleteIncubating(incubating.rows, r.param("obj_id")))
      }
      ok
    }),
    "/pipeline_incubation/flush" -> Map[String, Handler]("DELETE" -> { r =>
      r.session.can("incubationFlush")
      mutate.synchronized(replaceIncubating(Nil))
      ok
    }),
    "/sys/config" -> Map[String, Handler](
      "GET" -> { r =>
        r.session.can("sysConfig")
        codec.obj((api.sysConfig ++ extraSysConfig()).toSeq.sortBy(_._1): _*)
      },
      // admin actions (r13 ADVICE #2) — same path, POST, so the
      // reference's 18-route surface stays pinned while the service
      // gains an in-band reset lever (e.g. clear_mq_ingest_health)
      "POST" -> { r =>
        r.session.can("flush") // admin verb class
        val name = r.param("action")
        val act = sysActions.getOrElse(name, throw new IllegalArgumentException(
          s"unknown action '$name'; known: ${sysActions.keys.toSeq.sorted.mkString(", ")}"))
        codec.obj("action" -> name, "result" -> act())
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
  private[graft] def ingest(events: Seq[LifecycleEvent], now: Timestamp,
      mqOffset: Option[Long] = None): Seq[Submission] =
    mutate.synchronized {
      val (step, ended) = gatedStep(events, now)
      // One commit makes the events, the state they leave and the runs
      // they start durable together, before any of it takes effect: a
      // crash before it loses nothing acknowledged (the replay applies
      // the batch), a crash after it restores all three (the replay's
      // ids are logged, and the open submissions are resubmitted). The
      // sink and the driver-held tail and id index follow the effects,
      // so they hold only applied events. An MQ batch's end offset and
      // the runs the engines reported ended commit in the same record.
      val subs = applyStep(events, step, ended, mqOffset)
      if (events.nonEmpty) {
        eventSink.get()(events)
        logged(events)
      }
      subs
    }

  /** Index events the log now holds: the history tail and the MQ
    * replay probe's ids. [[GraftService]] also feeds restored ids here. */
  private[graft] def logged(events: Seq[LifecycleEvent]): Unit = {
    tail.append(events)
    loggedIds.add(events.collect {
      case e if e.received_time != null => e.event_id -> e.received_time.getTime
    })
  }

  /** Idempotent MQ ingress: drop events whose `event_id` the log holds
    * within the horizon, dispatch the remainder — probe and step under
    * ONE lock acquisition, so no concurrent step can apply (and log) a
    * probed id between the probe and this dispatch — an unlocked probe
    * would let both apply it. Since the log append runs AFTER effects
    * ([[ingest]]), a logged id always means an applied event. The probe
    * reads the driver-held id index, not the log. `mqOffset`, the
    * batch's end offset, commits with the step; a batch with nothing
    * fresh still commits it. Returns the fresh set. */
  private[graft] def ingestDedup(events: Seq[LifecycleEvent], now: Timestamp,
      horizonCutoff: Timestamp, mqOffset: Option[Long] = None): Seq[LifecycleEvent] =
    mutate.synchronized {
      val fresh = events.filterNot(e => loggedIds.seenSince(e.event_id, horizonCutoff.getTime))
      if (fresh.nonEmpty) ingest(fresh, now, mqOffset)
      else if (mqOffset.nonEmpty)
        commitHook.get()(HttpFacade.Commit(Nil, incubating.rows, Nil, mqOffset = mqOffset))
      fresh
    }

  /** One culler pass IF anything is incubating — the emptiness check
    * and the step run under ONE lock acquisition, so the check always
    * sees the state the step folds (r7 advice). */
  private[graft] def cullStep(now: Timestamp): Unit =
    mutate.synchronized {
      // reentrant lock: the emptiness pre-check and the step share ONE
      // acquisition, and the step itself is [[ingest]]'s empty-batch
      // branch — one code path, so a future change to the state
      // contract cannot silently diverge between the event ingress and
      // the culler (r8 review #6)
      if (incubating.rows.nonEmpty) { ingest(Seq.empty, now); () }
    }

  /** Run `body` under the lock every mutation holds. */
  private[graft] def locked[T](body: => T): T = mutate.synchronized(body)

  /** Set the journal's open runs as the gate's ledger: [[GraftService]]
    * calls this after each journal write and after a restore. */
  private[graft] def openRuns(open: Seq[Submission]): Unit = mutate.synchronized {
    journaled = open.toVector.map(s => HttpFacade.ledgerRow(s.pipeline_uuid, s.exec_uuid))
    running.set(journaled ++ singleUse)
  }

  /** Close runs that end without a callback — an abort's, or the ones
    * the engines report ended: one commit, and the single-use ones leave
    * the ledger. */
  private[graft] def closeRuns(execs: Seq[String]): Unit = mutate.synchronized {
    commitHook.get()(HttpFacade.Commit(Nil, incubating.rows, Nil, closed = execs))
    endSingleUse(execs.toSet)
  }

  private def endSingleUse(execs: Set[String]): Unit =
    if (singleUse.exists(j => execs(j.exec_uuid))) {
      singleUse = singleUse.filterNot(j => execs(j.exec_uuid))
      running.set(journaled ++ singleUse)
    }

  /** The step over the ledger. A ledger run can have ended without a
    * callback (a crashed run, a deleted pod), so where the gate would
    * defer a candidate behind a ledger run this batch does not end, the
    * engines decide, as the reference's live check does
    * (`dispatcher.py:15-68`): one read of their rows, and the step folds
    * again over the ledger runs they report live. Returns the step and
    * the ledger runs they report ended, for the step's commit to close.
    * A run they do not report stays in the ledger but does not gate. */
  private def gatedStep(events: Seq[LifecycleEvent], now: Timestamp): (Dispatcher.Step, Seq[String]) = {
    val ledger = running.rows
    val step = api.dispatchRows(events, ledger, incubating.rows, now)
    val finished = GraftApi.finished(events)
    val held = ledger.collect { case j if !finished(j.exec_uuid) => j.pipeline_uuid }.toSet
    if (!step.deferred.exists(r => held(r.pipeline_uuid))) (step, Nil)
    else {
      val reported = api.engines.allRows(spark)
      val live = reported.collect { case j if Dispatcher.Live(j.engine_status) => j.exec_uuid }.toSet
      val seen = reported.map(_.exec_uuid).toSet
      val ended = ledger.collect { case j if seen(j.exec_uuid) && !live(j.exec_uuid) => j.exec_uuid }
      (api.dispatchRows(events, ledger.filter(j => live(j.exec_uuid)), incubating.rows, now), ended)
    }
  }

  /** The event-loop state contract (see class doc): `newIncubating`
    * IS the complete post-step state — every old row flows through the
    * step's per-key fold (kept, released, or dropped), so the fold is a
    * replacement, not a merge. The previous merge formulation
    * (`(incubating − droppedObjIds) ∪ newIncubating ∪ deferred`) left
    * RELEASED rows behind (droppedObjIds only carries age-outs) and
    * duplicated kept rows — caught by GraftServiceSpec's
    * slot-consumed assertion (r7). The step is committed first; the
    * submissions are returned for the caller's response. */
  private def applyStep(events: Seq[LifecycleEvent], step: Dispatcher.Step,
      ended: Seq[String], mqOffset: Option[Long]): Seq[Submission] = {
    val next = step.newIncubating ++ step.deferred
    commitHook.get()(HttpFacade.Commit(events, next, step.submissions, ended, mqOffset))
    incubating.set(next)
    endSingleUse(GraftApi.finished(events) ++ ended)
    submissionSink.get()(step.submissions)
    step.submissions
  }

  private def replaceIncubating(rows: Seq[IncubRow]): Unit = {
    commitHook.get()(HttpFacade.Commit(Nil, rows, Nil))
    incubating.set(rows)
  }

  // ---- request plumbing -------------------------------------------------

  private def handle(ex: HttpExchange, methods: Map[String, Handler]): Unit = {
    val out =
      try {
        methods.get(ex.getRequestMethod) match {
          case None => (405, codec.obj("error" -> "method not allowed"))
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
        case e: Auth.AuthError => (e.statusCode, codec.obj("error" -> e.message))
        case e: IllegalArgumentException => (400, codec.obj("error" -> String.valueOf(e.getMessage)))
        case e: Throwable => (500, codec.obj("error" -> String.valueOf(e.getMessage)))
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

  private val ok = """{"ok":true}"""
}

object HttpFacade {
  /** One mutation for [[HttpFacade.commitHook]]: the events it accepts,
    * the incubation rows it leaves, the runs it submits, the exec_uuids
    * of the runs it ends (an abort's) and an MQ batch's end offset. */
  final case class Commit(events: Seq[LifecycleEvent], rows: Seq[IncubRow],
                          submissions: Seq[Submission], closed: Seq[String] = Nil,
                          mqOffset: Option[Long] = None)

  /** A gate ledger row: a run started and not yet seen to end. The gate
    * reads its pipeline and status; it names no engine. */
  private def ledgerRow(pipeline: String, exec: String): RunningJob =
    RunningJob(exec, pipeline, null, null, "running", None, None)

  /** A driver-held row set. The facade's state lives here as plain
    * values; `get()` is the same rows as a local Dataset (a
    * `LocalRelation`, which reads without a Spark job) for the Dataset
    * form of [[GraftApi.dispatch]]. */
  final class Rows[T](spark: SparkSession, enc: Encoder[T]) {
    private val ref = new AtomicReference[Vector[T]](Vector.empty)
    def rows: Vector[T] = ref.get()
    def set(rows: Seq[T]): Unit = ref.set(rows.toVector)
    def get(): Dataset[T] = spark.createDataset(rows)(enc)
  }
}
