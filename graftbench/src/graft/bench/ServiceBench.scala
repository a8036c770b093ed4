package graft.bench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.GraftConfig
import graft.api.{Auth, GraftApi, GraftService, SecuredGraftApi}
import graft.model.{LifecycleEvent, PipelineDef, PipelineTrigger, RunningJob, Submission}
import graft.orchestration.{Catalog, EngineBackend, EngineJob, EngineManager, LocalSparkEngine}

/** One DAG instance: a root fanning out to three `any` kids that join
  * into one `all` child. `failing` fails its first attempt (retry_max 1). */
final case class Dag(root: String, kids: Seq[String], join: String, failing: String) {
  def nodes: Seq[String] = root +: kids :+ join
  /** The runs one pass over the DAG starts: every node once, plus the retry. */
  def expectedRuns: Seq[(String, Int)] = nodes.map(_ -> 0) :+ (failing -> 1)
  def deps(p: String): Seq[String] =
    if (kids.contains(p)) Seq(root) else if (p == join) kids else Nil
}

/** The seeded catalog: DAG instances plus padding defs and edges. */
object BenchCatalog {
  final case class Built(defs: Seq[PipelineDef], edges: Seq[PipelineTrigger], dags: Seq[Dag],
      /** a padding def that triggers nothing: the warm-up probe runs it */
      leaf: String)

  def build(rnd: scala.util.Random, nDags: Int, nPad: Int): Built = {
    def mk(uuid: String, op: Option[String], retryMax: Int) =
      PipelineDef(uuid, s"bench pipeline $uuid", retryMax, concurrency = false,
        "spark-local", "{}", None, op, None, Some("bench"), Some("perf"), None)
    val dags = (0 until nDags).map { i =>
      val kids = (1 to 3).map(k => s"dag$i-kid$k")
      Dag(s"dag$i-root", kids, s"dag$i-join", kids(rnd.nextInt(3)))
    }
    val dagDefs = dags.flatMap { d =>
      mk(d.root, None, 0) +: d.kids.map(mk(_, Some("any"), 1)) :+ mk(d.join, Some("all"), 0)
    }
    val dagEdges = dags.flatMap { d =>
      d.kids.map(PipelineTrigger(_, d.root, "any")) ++ d.kids.map(PipelineTrigger(d.join, _, "all"))
    }
    // padding: each def triggers on one or two earlier ones, so the last
    // def has no children
    val pads = (0 until nPad).map(i => f"pad-${rnd.nextInt(1 << 24)}%06x-$i")
    val padEdges = pads.zipWithIndex.drop(1).flatMap { case (p, i) =>
      val parents = Seq.fill(1 + rnd.nextInt(2))(pads(rnd.nextInt(i))).distinct
      val op = if (parents.size > 1) "all" else "any"
      parents.map(PipelineTrigger(p, _, op))
    }
    val padOps = padEdges.groupBy(_.pipeline_uuid).map { case (p, es) => p -> es.head.op }
    val padDefs = pads.map(p => mk(p, padOps.get(p), rnd.nextInt(2)))
    Built(dagDefs ++ padDefs, dagEdges ++ padEdges, dags, pads.last)
  }
}

/** Observations every run makes, untraced too: when each event was sent
  * and applied, and when each run reached the engine and started. */
final class Recorder(dags: Seq[Dag]) {
  private val dagOf: Map[String, Dag] = dags.flatMap(d => d.nodes.map(_ -> d)).toMap
  @volatile var timed = false

  val submits = new ConcurrentLinkedQueue[(String, String, Int)]() // exec, pipeline, retry
  val starts = new ConcurrentHashMap[String, java.lang.Long]()
  val triggerMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val runsFailed = new AtomicInteger()
  val eventsApplied = new AtomicLong()
  /** MQ messages: publish times by event id, publish-to-applied times. */
  val mqSentNs = new ConcurrentHashMap[Long, java.lang.Long]()
  val mqSentWallMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val mqAckMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val mqSent = new AtomicLong()
  val mqApplied = new AtomicLong()
  @volatile var backlogMax = 0L
  /** Event batches applied while timed, for the dispatcher replay. */
  val appliedBatches = new ConcurrentLinkedQueue[Seq[LifecycleEvent]]()
  private val appliedLog = new ConcurrentHashMap[(String, String), java.lang.Long]()
  private val lastSuccessSent = new ConcurrentHashMap[String, java.lang.Long]()
  private val lastFailureSent = new ConcurrentHashMap[String, java.lang.Long]()

  def dag(p: String): Option[Dag] = dagOf.get(p)

  def sent(ev: LifecycleEvent, ns: Long): Unit = ev.event_subtype match {
    case "success" => lastSuccessSent.put(ev.pipeline_uuid, ns); ()
    case "failure" => lastFailureSent.put(ev.pipeline_uuid, ns); ()
    case _ => ()
  }

  def published(ev: LifecycleEvent, ns: Long): Unit = {
    sent(ev, ns)
    mqSentNs.put(ev.event_id, ns)
    if (timed) mqSentWallMs.add(System.currentTimeMillis())
    val depth = mqSent.incrementAndGet() - mqApplied.get()
    if (timed && depth > backlogMax) backlogMax = depth
  }

  /** A run reached `EngineBackend.submit`: the downstream end of a
    * trigger, measured from the callback that released it. */
  def submitted(sub: Submission, ns: Long): Unit = {
    submits.add((sub.exec_uuid, sub.pipeline_uuid, sub.retry_count))
    val cause: Option[Long] =
      if (sub.retry_count > 0) Option(lastFailureSent.get(sub.pipeline_uuid)).map(_.longValue)
      else dag(sub.pipeline_uuid).map(_.deps(sub.pipeline_uuid)).filter(_.nonEmpty).flatMap { ds =>
        val ts = ds.flatMap(d => Option(lastSuccessSent.get(d)).map(_.longValue))
        if (ts.size == ds.size) Some(ts.max) else None
      }
    if (timed) cause.foreach(c => triggerMs.add((ns - c) / 1e6))
  }

  def started(sub: Submission, ns: Long): Unit = { starts.put(sub.exec_uuid, ns); () }

  /** The service applied and logged a batch (its event sink returned). */
  def applied(evs: Seq[LifecycleEvent]): Unit = {
    val ns = System.nanoTime()
    if (timed) { eventsApplied.addAndGet(evs.size.toLong); appliedBatches.add(evs) }
    evs.foreach { e =>
      Option(mqSentNs.remove(e.event_id)).foreach { t =>
        mqApplied.incrementAndGet()
        if (timed) mqAckMs.add((ns - t) / 1e6)
      }
      appliedLog.put((e.pipeline_uuid, e.event_subtype), ns)
    }
    synchronized(notifyAll())
  }

  /** Wait until a `subtype` event of `pipeline` has been applied since
    * `afterNs`; returns when it was applied. */
  def awaitApplied(pipeline: String, subtype: String, afterNs: Long, timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def seen = Option(appliedLog.get((pipeline, subtype))).map(_.longValue).filter(_ > afterNs)
    synchronized {
      while (seen.isEmpty && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
    seen.getOrElse(throw new BenchFailure(
      s"$subtype of $pipeline not applied within ${timeoutMs / 1000} s"))
  }

  def triggers: Seq[Double] = triggerMs.asScala.toSeq.map(_.doubleValue)
  def mqAcks: Seq[Double] = mqAckMs.asScala.toSeq.map(_.doubleValue)

  def observedRuns: Seq[(String, Int)] = submits.asScala.toSeq.map(s => (s._2, s._3))
  def duplicateExecs: Seq[String] =
    submits.asScala.toSeq.groupBy(_._1).collect { case (e, xs) if xs.size > 1 => e }.toSeq
}

object RunCheck {
  /** Expected run multiset vs observed: (lost, duplicated) keys. */
  def diff[K](expected: Seq[K], observed: Seq[K]): (Seq[K], Seq[K]) = {
    val e = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val o = observed.groupBy(identity).map { case (k, v) => k -> v.size }
    val lost = e.toSeq.flatMap { case (k, n) => Seq.fill(math.max(0, n - o.getOrElse(k, 0)))(k) }
    val dup = o.toSeq.flatMap { case (k, n) => Seq.fill(math.max(0, n - e.getOrElse(k, 0)))(k) }
    (lost, dup)
  }
}

/** `EngineBackend` wrapper: times `submit` and stamps each run body's
  * start, keyed by `exec_uuid`. */
final class TimedEngine(inner: EngineBackend, rec: Recorder, trace: Trace) extends EngineBackend {
  def name: String = inner.name
  def submit(sub: Submission, job: EngineJob): Unit = {
    val t0 = System.nanoTime()
    rec.submitted(sub, t0)
    val wrapped = job match {
      case EngineJob.SparkClosure(body) => EngineJob.SparkClosure { s =>
        val ts = System.nanoTime()
        rec.started(sub, ts)
        trace.record("engine.submit_to_start", sub.exec_uuid, t0, ts)
        body(s)
      }
      case other => other
    }
    inner.submit(sub, wrapped)
    trace.record("engine.submit", sub.exec_uuid, t0, System.nanoTime())
  }
  def abort(execUuid: String): Unit = inner.abort(execUuid)
  def jobs(spark: SparkSession): org.apache.spark.sql.Dataset[RunningJob] = inner.jobs(spark)
  def logs(execUuid: String, maxKb: Int): String = inner.logs(execUuid, maxKb)
  override def wasAborted(execUuid: String): Boolean = inner.wasAborted(execUuid)
}

/** A run's lifecycle callback, produced by its payload-free run body. */
final case class Callback(sub: Submission, subtype: String, doneNs: Long)

/** One service under load: `GraftService` started in-process on a fresh
  * checkpoint root, its engine wrapped and its sinks timed. With a broker
  * the service ingests from it and run bodies publish their callbacks
  * there; without one they hand them to the client (`callbacks`, posted
  * over HTTP). */
final class Rig(spark: SparkSession, root: String, cat: BenchCatalog.Built,
    val rec: Recorder, val trace: Trace, broker: Option[graft.MQBroker],
    nextEventId: () => Long) {

  private val Token = "bench-admin-token"
  val callbacks = new LinkedBlockingQueue[Callback]()
  private val heldFailures = new ConcurrentLinkedQueue[Callback]()

  val api = new GraftApi(spark,
    Catalog(spark.createDataset(cat.defs)(Encoders.product[PipelineDef])),
    spark.createDataset(cat.edges)(Encoders.product[PipelineTrigger]),
    new EngineManager(Seq(new TimedEngine(new LocalSparkEngine(spark), rec, trace))),
    Rig.Config)
  private val policy = new Auth.Policy(
    new Auth.StaticTokenVerifier(Map(Token -> Seq("Data-Admin"))), apiTokens = Set.empty)

  /** Payload-free run body: no Spark job, only the run's own callback.
    * The failing kid fails its first attempt.
    *
    * The service decides a retry against its running-jobs snapshot, which
    * is refreshed at the end of each dispatch step. A failure applied
    * before a step that began after the attempt ended meets its own
    * attempt as still running, and the retry incubates for the 300 s
    * concurrency debounce instead of starting. The workloads report a failure only
    * after such a dispatch (here over MQ, in `httpWave` over HTTP), and
    * a retry that incubated anyway is counted (`incubatedRetries`) and
    * fails the run. */
  private def job(sub: Submission): EngineJob = EngineJob.SparkClosure { _ =>
    val fail = sub.retry_count == 0 && rec.dag(sub.pipeline_uuid).exists(_.failing == sub.pipeline_uuid)
    val cb = Callback(sub, if (fail) "failure" else "success", System.nanoTime())
    if (fail) rec.runsFailed.incrementAndGet()
    if (broker.isEmpty) callbacks.put(cb)
    else if (fail) heldFailures.add(cb)
    else publish(callbackEvent(cb))
  }

  val service = new GraftService(new SecuredGraftApi(api, policy), spark,
    mqEndpoint = broker.map(_.endpoint),
    checkpointRoot = root,
    jobFactory = Some((_: Option[PipelineDef], sub: Submission) => job(sub)),
    cfg = Rig.Config)

  private var base: String = _

  def start(): Unit = {
    base = s"http://127.0.0.1:${service.start(0).getPort}"
    val facade = service.facade
    val submitSink = facade.submissionSink.get()
    facade.submissionSink.set { subs =>
      val t0 = System.nanoTime()
      trace.span("service.submit_sink", subs.map(_.exec_uuid).mkString(","))(submitSink(subs))
      heldFailures.asScala.toSeq.filter(_.doneNs < t0).foreach { cb =>
        if (heldFailures.remove(cb)) publish(callbackEvent(cb))
      }
    }
    val eventSink = facade.eventSink.get()
    facade.eventSink.set { evs =>
      trace.span("service.event_log_append", evs.map(_.event_id).mkString(","))(eventSink(evs))
      rec.applied(evs)
    }
  }

  def stop(): Unit = service.shutdown(20000L)

  def eventsDir: String = s"$root/service-state/events"

  /** DAG retries the service has parked in incubation. */
  def incubatedRetries: Seq[String] = {
    import org.apache.spark.sql.functions.col
    service.facade.incubating.get().filter(col("retry_count") > 0)
      .select("pipeline_uuid").collect().map(_.getString(0)).filter(rec.dag(_).isDefined).toSeq
  }

  // ---- events ----------------------------------------------------------------

  def event(subtype: String, pipeline: String, exec: String, retry: Int): LifecycleEvent = {
    val now = new Timestamp(System.currentTimeMillis())
    LifecycleEvent(nextEventId(), "job_exec_update", subtype, pipeline, exec, now, now, retry,
      disable_downstream = false)
  }

  def origination(pipeline: String): LifecycleEvent =
    event("origination", pipeline, s"orig-$pipeline", 0)

  def callbackEvent(cb: Callback): LifecycleEvent =
    event(cb.subtype, cb.sub.pipeline_uuid, cb.sub.exec_uuid, cb.sub.retry_count)

  def publish(ev: LifecycleEvent): Unit = broker.foreach { b =>
    rec.published(ev, System.nanoTime())
    b.publish(ServiceBench.json(ev), System.currentTimeMillis())
  }

  /** POST events to `/pipeline/dispatcher/event` (one object or an array). */
  def post(evs: Seq[LifecycleEvent]): (Int, String, Long, Long) = {
    val ns = System.nanoTime()
    evs.foreach(rec.sent(_, ns))
    val body = if (evs.size == 1) ServiceBench.json(evs.head) else evs.map(ServiceBench.json).mkString("[", ",", "]")
    val out = call("POST", "/pipeline/dispatcher/event", body)
    trace.record("client.event_post", evs.map(_.event_id).mkString(","), out._3, out._4)
    out
  }

  // ---- HTTP --------------------------------------------------------------------

  private val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val httpCalls = new AtomicLong()
  private val httpErrors = new AtomicLong()

  /** (requests made, requests that failed or timed out) */
  def httpCounts: (Long, Long) = (httpCalls.get(), httpErrors.get())

  /** One request; (status, body, sendNs, ackNs). A timeout reads as 599. */
  def call(method: String, path: String, body: String = ""): (Int, String, Long, Long) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(java.time.Duration.ofSeconds(60))
      .header("Authorization", s"Bearer $Token")
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .build()
    httpCalls.incrementAndGet()
    val t0 = System.nanoTime()
    val out =
      try {
        val res = client.send(req, HttpResponse.BodyHandlers.ofString())
        (res.statusCode(), res.body(), t0, System.nanoTime())
      } catch {
        case _: java.net.http.HttpTimeoutException => (599, "timeout", t0, System.nanoTime())
      }
    if (out._1 != 200) httpErrors.incrementAndGet()
    out
  }
}

object Rig {
  /** `GraftConfig.default` but for the culler tick, which is moved out of
    * the timed window: a 10 s cull pass holds the dispatch lock for 2-3 s
    * while the join incubates, and whether one lands on a seven-event
    * wave flipped the wave's makespan by about 10% from run to run. */
  val Config: GraftConfig = GraftConfig.default.copy(cullingIntervalSeconds = 3600L)
}

object ServiceBench {

  /** A lifecycle event as the JSON the HTTP and MQ ingress parse. */
  def json(e: LifecycleEvent): String = {
    def ts(t: Timestamp) = Stats.str(java.time.Instant.ofEpochMilli(t.getTime).toString)
    s"""{"event_id":${e.event_id},"event_type":${Stats.str(e.event_type)},""" +
      s""""event_subtype":${Stats.str(e.event_subtype)},"pipeline_uuid":${Stats.str(e.pipeline_uuid)},""" +
      s""""exec_uuid":${Stats.str(e.exec_uuid)},"event_time":${ts(e.event_time)},""" +
      s""""received_time":${ts(e.received_time)},"retry_count":${e.retry_count},""" +
      s""""disable_downstream":${e.disable_downstream}}"""
  }
}
