package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

import graft.GraftConfig
import graft.model.{LifecycleEvent, PipelineDef, PipelineTrigger, Submission}
import graft.orchestration.{Catalog, Cron, Dispatcher, EngineJob, EngineManager, LocalSparkEngine}
import graft.sources.mq.{HttpMQ, MQClient}

/** THE deployable process — the reference's service wiring
  * (`kalytical/facade.py:138-150`: one asyncio
  * loop carrying uvicorn + `MQ_Poller.fetch_message_loop` +
  * `IncubatingJobCuller.cull_jobs_loop`, SIGINT → graceful shutdown)
  * re-expressed Spark-first. One `GraftService` composes everything
  * the repo already has into one long-running program:
  *
  *  - the 18-endpoint [[HttpFacade]] (uvicorn analog), which OWNS the
  *    running/incubating/event-log state between requests;
  *  - the MQ ingress: ONE driver thread, `graft-mq-poll`, long-polling
  *    the queue bridge ([[HttpMQ]]; `mq_poller.py:16-30`'s SQS
  *    long-poll, whose 2 s `WaitTimeSeconds` is `pollInterval`). Each
  *    batch's end offset commits in the journal record that holds the
  *    batch's effects, instead of the reference's
  *    delete-at-most-one-per-poll ack bug, so a restart resumes right
  *    after the last applied batch; the corrupt-message quarantine
  *    (`_unmarshall_sqs`'s except-log path) is one file per batch;
  *  - the culler tick (`job_culler.py:17-44`): an empty-batch
  *    dispatcher step every `cullingIntervalSeconds`, so the
  *    debounce / deps-satisfied / age-out rules fire against wall
  *    clock exactly like the reference's loop;
  *  - the cron tick (S4, `ext_sched.py`): once per wall-clock minute,
  *    due schedules synthesize origination events into the same
  *    dispatch path as everything else.
  *
  * All four share ONE ingress contract — [[HttpFacade.ingest]] under
  * the facade's mutate lock — so an HTTP-posted event, an MQ message,
  * a culler release and a cron firing are literally the same code
  * path, and dispatcher submissions flow to their def's engine backend
  * ([[EngineManager.submit]]) so `/pipeline/dispatcher/running`
  * reflects them immediately. The concurrency gate reads the journal's
  * open runs, not the engines: a step polls no engine unless the gate
  * would defer a candidate behind one of them.
  *
  * Scale note: every loop here is metadata-plane (catalog-bounded
  * collects, poll-sized batches — the reference's own regime). The
  * data plane runs INSIDE the submitted jobs on the cluster; nothing
  * data-sized crosses this driver program.
  *
  * What a run EXECUTES is deployment-specific (the reference marshals
  * `engine_args` into a pod spec; a Spark deployment supplies a
  * closure over its session) — so it is injected via `jobFactory`.
  * The default runs the submission as a no-op marker closure on the
  * def's engine, which is enough for the orchestration plane to be
  * fully observable.
  */
final class GraftService(
    secured: SecuredGraftApi,
    spark: SparkSession,
    mqEndpoint: Option[String],
    checkpointRoot: String,
    val quarantineDir: Option[String] = None,
    // None = the built-in data-plane interpreter ([[dataPlaneJob]]):
    // engine_args naming a registered graft query run as the
    // submission's Spark action. Tests inject their own factories.
    jobFactory: Option[(Option[PipelineDef], Submission) => EngineJob] = None,
    cfg: GraftConfig = GraftConfig.default,
    // the MQ long-poll's wait (mq_poller.py:20 WaitTimeSeconds=2); a
    // bridge that answers at once is polled this often
    pollInterval: FiniteDuration = 2.seconds,
    cronCheckInterval: FiniteDuration = 5.seconds, // fires once per due minute
    nowProvider: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {

  import GraftService.EventEnc

  private val api = secured.api
  val facade = new HttpFacade(secured, spark, nowProvider,
    () => Map("mq_ingest_health" -> mqHealth),
    sysActions = Map("clear_mq_ingest_health" -> (() => clearMqIngestHealth())))

  @volatile private var mqThread: Thread = _
  private var scheduler: ScheduledExecutorService = _
  private var shutdownHook: Thread = _
  private val stopped = new AtomicBoolean(false)
  private val terminated = new CountDownLatch(1)
  @volatile private var lastCronMinute: Long = -1L

  /** Bind, start every loop, return the HTTP address. */
  def start(port: Int = 0): InetSocketAddress = synchronized {
    recover()
    // the deployable session serves spark.sql users too: scalar
    // kernels + the graft()/graft_* table functions
    graft.plans.GraftFunctions.register(spark)
    graft.plans.GraftSql.register(spark)
    val addr = facade.start(port)

    mqEndpoint.foreach { ep =>
      mqThread = new Thread(() => pollLoop(new HttpMQ(ep)), "graft-mq-poll")
      mqThread.setDaemon(true)
      mqThread.start()
    }

    scheduler = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-service-ticks"); t.setDaemon(true); t
    }
    scheduler.scheduleWithFixedDelay(() => safely("cull") { cullTick() },
      cfg.cullingIntervalSeconds, cfg.cullingIntervalSeconds, TimeUnit.SECONDS)
    scheduler.scheduleWithFixedDelay(() => safely("cron") { cronTick() },
      cronCheckInterval.toMillis, cronCheckInterval.toMillis, TimeUnit.MILLISECONDS)
    shutdownHook = new Thread(() => shutdown(), "graft-service-sigint")
    Runtime.getRuntime.addShutdownHook(shutdownHook) // the SIGINT handler analog
    addr
  }

  /** Restore the durable state and wire the facade to it: every
    * mutation commits to the journal before it takes effect (the
    * reference's Mongo durability), and engine submission rides the
    * facade's single dispatch path — an HTTP-posted event, an MQ
    * message, a culler release and a cron firing all submit through
    * here. The runs the journal holds open are submitted once more. */
  private[graft] def recover(): Unit = {
    restoreState()
    facade.commitHook.set(commit)
    facade.submissionSink.set { subs =>
      submitAll(subs)
      fault("after-submit")
    }
    submitAll(journal.open)
  }

  // ---- the MQ ingress ----------------------------------------------------
  // One driver thread turns until shutdown (`mq_poller.py:16-30`). A turn
  // long-polls from the journal's offset, reads the batch, decodes it with
  // the HTTP ingress's rules, and commits it through `ingestDedup` with
  // the batch's end offset in the same journal record as its effects;
  // then it acks the offset upstream. A crash before that record replays
  // the batch from the same offset, a crash after it replays nothing, so
  // the event-id dedup is left with broker redelivery alone. A failed
  // turn is logged and retried after a bounded exponential backoff
  // (`mq_poller.py:27`), and `mq_ingest_health` on GET /sys/config
  // reports the failure streak. Shutdown interrupts only a wait, never a
  // step in flight.

  @volatile private var mqFailures = 0
  @volatile private var mqLastError = ""
  private val mqWaitLock = new Object
  private var mqWaiting = false // guarded by mqWaitLock

  private[graft] def mqPolling: Boolean = mqThread != null && mqThread.isAlive

  private def mqHealth: String =
    if (mqFailures == 0) "ok"
    else s"failing: $mqFailures consecutive mq turns failed; last error: $mqLastError"

  /** Admin reset of `mq_ingest_health`, short of a process restart.
    * Reached over HTTP via
    * `POST /sys/config?action=clear_mq_ingest_health` (admin role — the
    * flush verb class). */
  def clearMqIngestHealth(): String = {
    val was = mqHealth
    mqFailures = 0
    mqLastError = ""
    val msg = if (was == "ok") "already ok" else s"cleared: $was"
    System.err.println(s"[graft-service] mq ingest health reset by admin - $msg")
    msg
  }

  private def pollLoop(client: MQClient): Unit =
    while (!stopped.get()) {
      val began = System.currentTimeMillis()
      val pause =
        try {
          val advanced = pollTurn(client)
          mqFailures = 0
          if (advanced) 0L else pollInterval.toMillis - (System.currentTimeMillis() - began)
        } catch {
          case _: InterruptedException => 0L // shutdown: the loop condition ends it
          case e: Throwable =>
            mqFailures += 1
            mqLastError = String.valueOf(e.getMessage)
            val backoff = math.min(pollInterval.toMillis << math.min(mqFailures - 1, 5),
              GraftService.MqMaxBackoffMs)
            System.err.println(s"[graft-service] mq turn failed ($mqFailures in a row, " +
              s"next in $backoff ms): $mqLastError")
            backoff
        }
      if (pause > 0)
        try waiting(Thread.sleep(pause)) catch { case _: InterruptedException => () }
    }

  /** One turn; false when no message arrived. */
  private def pollTurn(client: MQClient): Boolean = {
    val from = journal.mqOffset.getOrElse(checkpointOffset)
    val end = waiting(client.batchEnd(from, pollInterval.toMillis))
    if (end <= from || stopped.get()) false
    else {
      val msgs = client.read(from, end)
      if (msgs.size != end - from)
        throw new IllegalStateException(s"mq read [$from, $end) returned ${msgs.size} messages")
      val (decoded, rejected) = facade.codec.messages(msgs.map(m => new String(m._3, UTF_8)))
      quarantine(from, rejected)
      // distinctBy: SQS-style redelivery can land the same event_id
      // TWICE IN ONE POLL, which the id probe alone cannot catch (neither
      // copy is logged yet); keep the first copy, in arrival order
      val batchIds = scala.collection.mutable.Set.empty[Long]
      val now = nowProvider()
      val events = decoded
        .filter(e => batchIds.add(e.event_id))
        // SINK-STAMP received_time (the reference stamps at the data
        // provider, `data_provider.py:130`): producer-supplied times can
        // be null or arbitrarily old, which would both hide rows from
        // history queries AND make the dedup horizon below never match a
        // redelivered id
        .map(_.copy(received_time = now))
      // Horizon: a redelivered id's logged copy carries its first stamp,
      // minutes old; generous (7 days) because a miss only degrades to
      // at-least-once
      val cutoff = new Timestamp(now.getTime - cfg.mqDedupHorizonDays * 86400000L)
      facade.ingestDedup(events, now, cutoff, Some(end))
      client.commit(end)
      true
    }
  }

  /** Run one wait of the poll thread; shutdown interrupts only these. */
  private def waiting[T](body: => T): T = {
    mqWaitLock.synchronized {
      if (stopped.get()) throw new InterruptedException("shutting down")
      mqWaiting = true
    }
    // an interrupt that lands after `body` returned is cleared here, so it
    // cannot reach the step that follows
    try body finally mqWaitLock.synchronized { mqWaiting = false; Thread.interrupted(); () }
  }

  /** Where a root without a journaled offset starts: the last committed
    * offset of the Structured Streaming ingest that earlier versions ran
    * under `mq-ingest/` (the newest batch under `commits/`, whose end
    * offset is the last line of `offsets/<id>`), else 0. Read only until
    * the first batch journals its offset. */
  private lazy val checkpointOffset: Long = {
    val ckpt = new Path(s"$checkpointRoot/mq-ingest")
    val commits = new Path(ckpt, "commits")
    val fs = hadoopFs(ckpt)
    val newest = if (!fs.exists(commits)) None
      else fs.listStatus(commits).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption
    newest.fold(0L) { id =>
      val in = fs.open(new Path(ckpt, s"offsets/$id"))
      try new String(in.readAllBytes(), UTF_8).split('\n').map(_.trim).filter(_.nonEmpty).last.toLong
      finally in.close()
    }
  }

  /** Best-effort forensics: a batch's rejected messages, one per line, in
    * one file named by the batch's start offset. A replay starts at the
    * same committed offset, so it overwrites its own file. */
  private def quarantine(from: Long, rejected: Seq[String]): Unit =
    quarantineDir.filter(_ => rejected.nonEmpty).foreach { d =>
      try {
        val p = new Path(d, f"batch-$from%012d.txt")
        val out = hadoopFs(p).create(p, true)
        try out.write(rejected.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] quarantine write skipped for the batch at $from: ${e.getMessage}")
      }
    }

  // ---- durable service state -------------------------------------------
  // The reference keeps pipeline defs, incubating runs and event history
  // in MongoDB, one document write per change, so its process restarts
  // resume mid-lifecycle (an incubating child's first satisfied dep
  // survives). Here the state is the facade's driver values and the
  // catalog, made durable by ONE
  // journal under `service-state/journal` ([[Journal]]), the one durable
  // store: each step commits one hsync'd JSON line — its events, its
  // incubation delta and its submissions (the outbox) — before any of it
  // takes effect. An MQ batch is one step, so the batch commits together,
  // with its end offset. A catalog mutation commits its change the same
  // way before its catalog is swapped in. A restart replays the last
  // snapshot and the segments after it: the catalog (once a record holds
  // one, it replaces the catalog the service was built with), the
  // incubation rows, the event log (its uncompacted events, and the
  // history's ids the MQ replay probe reads), the cron high-water
  // minute, and the outbox, whose still-open runs are
  // submitted once more (an engine whose runs outlive the process
  // dedups by exec_uuid); an abort closes the runs its token names. The
  // open outbox is also the concurrency gate's ledger: every journal
  // write, and the restore, hands it to the facade. A fresh root costs
  // one existence probe and reads none of the constructor catalog's
  // rows. The culler tick compacts:
  // closed segments' events go to the parquet history under
  // `service-state/events` (one file per segment, so a re-run replaces
  // its own file), then a snapshot replaces the segments. On a `file:`
  // root the moved files, their directory and the snapshot's rename are
  // forced to the disk before the segments are deleted; elsewhere the
  // filesystem's own close and rename guarantees hold.

  private def stateRoot = s"$checkpointRoot/service-state"
  private def eventsDir = s"$stateRoot/events"
  // the HADOOP filesystem of a path under checkpointRoot (java.nio paths
  // silently resolved "hdfs://..." to a LOCAL directory literally named
  // "hdfs:")
  private def hadoopFs(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Test seam: called at each durable boundary (before and after the
    * journal write, after submission, mid-compaction); a throw there is
    * a crash at that point. */
  @volatile private[graft] var fault: String => Unit = _ => ()

  private[graft] lazy val journal =
    new Journal(stateRoot, spark.sessionState.newHadoopConf(), facade.codec, fault(_))

  private def commit(c: HttpFacade.Commit): Unit = {
    fault("before-journal")
    journal.commit(c.events, c.rows, c.submissions, c.closed, c.mqOffset, c.catalog)
    facade.openRuns(journal.open)
    fault("after-journal")
  }

  /** Close the gate's open runs the engines report ended: a run whose
    * job posts no callback would otherwise be resubmitted by every
    * restart, and a single-use run would stay in the ledger. */
  private def settle(): Unit = {
    val open = facade.running.rows
    if (open.nonEmpty) {
      val ended = api.engines.allRows(spark)
        .collect { case j if !Dispatcher.Live(j.engine_status) => j.exec_uuid }.toSet
      val closed = open.map(_.exec_uuid).filter(ended)
      if (closed.nonEmpty) facade.closeRuns(closed)
    }
  }

  /** Compaction (the culler tick): roll the segment, move the closed
    * segments' events to the parquet history, snapshot the state they
    * leave, delete them. Each step is safe to re-run after a crash. */
  private[graft] def compact(): Unit =
    facade.locked(journal.roll().map(_ -> facade.eventLog.mark)).foreach { case (cut, mark) =>
      val fs = hadoopFs(new Path(eventsDir))
      val staged = cut.segments.flatMap { seg =>
        val events = journal.events(seg)
        if (events.isEmpty) None
        else {
          val tmp = s"$stateRoot/compacting/$seg"
          spark.createDataset(events)(EventEnc).coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.listStatus(new Path(tmp)).map(_.getPath)
            .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no parquet file written under $tmp"))
          Some(part -> new Path(eventsDir, s"${Journal.segmentName(seg)}.parquet"))
        }
      }
      facade.eventLog.compacted(mark, eventsDir) {
        fs.mkdirs(new Path(eventsDir))
        staged.foreach { case (part, target) =>
          fs.delete(target, false)
          if (!fs.rename(part, target)) throw new java.io.IOException(s"could not move $part to $target")
        }
      }
      // Spark wrote the files without a sync: force them and their
      // directory before the snapshot lets the segments go
      staged.foreach { case (_, target) => Journal.force(fs, target) }
      if (staged.nonEmpty) Journal.force(fs, new Path(eventsDir))
      fault("mid-compaction:history")
      journal.snapshot(cut)
      fs.delete(new Path(s"$stateRoot/compacting"), true)
      ()
    }

  private def restoreState(): Unit =
    if (journal.exists) {
      val segments = journal.restore()
      journal.catalog.foreach(api.catalog = _)
      facade.incubating.set(journal.incubating)
      facade.openRuns(journal.open)
      lastCronMinute = journal.cron
      val history = new Path(eventsDir)
      val fs = hadoopFs(history)
      val compacted = fs.exists(history)
      // a segment whose file is already in the history was moved there by
      // a compaction that a crash cut short
      val moved = if (compacted) fs.listStatus(history).map(_.getPath.getName).toSet else Set.empty[String]
      facade.eventLog.restore(segments.collect {
        case (n, events) if !moved(s"${Journal.segmentName(n)}.parquet") => events
      }.flatten, Some(eventsDir).filter(_ => compacted), nowProvider().getTime)
    }

  /** Tick bodies never kill the scheduler: the reference's loops
    * log-and-continue on error (`job_culler.py:40`, `mq_poller.py:27`). */
  private def safely(what: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable =>
        System.err.println(s"[graft-service] $what tick failed: ${e.getMessage}")
    }

  /** One culler pass: an empty event batch is a pure cull step —
    * concurrency-debounced and deps-satisfied rows release (and
    * SUBMIT), aged-out rows drop (`job_culler.py:17-44`). Then the
    * journal compacts. */
  private[graft] def cullTick(): Unit = {
    // the empty-state pre-check and the cull step run under ONE
    // facade-lock acquisition, so the check always sees the state the
    // step folds (r7 advice)
    facade.cullStep(nowProvider())
    settle()
    compact()
  }

  /** Cron scheduler tick: fires at most once per wall-clock minute
    * (`Cron.fire` is a pure function of the minute, so double-firing
    * within one minute would duplicate exec uuids), folded over the
    * catalog index on the driver. The high-water minute advances only
    * AFTER the dispatch succeeds — advancing it first would turn a
    * transient failure (swallowed by `safely`) into a silently-lost
    * firing (r7 review #7). The firing's own journal record carries the
    * minute, so a restart inside an already-fired minute does not
    * re-fire it (review #8). */
  private[graft] def cronTick(): Unit = {
    val now = nowProvider()
    val minute = now.getTime / 60000L
    if (minute != lastCronMinute) {
      val due = Cron.fire(api.catalog.defs, now)
      if (due.nonEmpty) onEvents(due, now)
      lastCronMinute = minute
    }
  }

  /** The shared ingress: dispatch under the facade's lock; engine
    * submission rides the installed submissionSink. */
  private[graft] def onEvents(events: Seq[LifecycleEvent], now: Timestamp): Unit = {
    facade.ingest(events, now)
    ()
  }

  /** Submit each run to its def's engine, looked up in the catalog
    * the dispatcher itself read. */
  private def submitAll(subs: Seq[Submission]): Unit =
    if (subs.nonEmpty) {
      val defsByUuid = api.catalog.byUuid
      subs.foreach { sub =>
        // per-run isolation: one submission whose def names an
        // unregistered engine must not abort the rest of the batch —
        // state is already persisted by this point, so a thrown batch
        // silently lost every later run (r7 review)
        try {
          val d = defsByUuid.get(sub.pipeline_uuid)
          val job = jobFactory.map(f => f(d, sub)).getOrElse(dataPlaneJob(d, sub))
          api.engines.submit(d.map(_.engine).getOrElse(cfg.defaultEngine), sub, job)
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[graft-service] submit failed for ${sub.pipeline_uuid}/${sub.exec_uuid}: ${e.getMessage}")
        }
      }
    }

  // ---- the data plane ----------------------------------------------------

  /** The built-in job factory (EP1 step 6's last semantic): the
    * dispatched DAG actually PRODUCES curated data. The reference's
    * unit of execution is the pipeline payload —
    * `engine_args.pipeline_command` + `pipeline_args` marshalled into
    * the pod spec (`engine.py:110-123`); the Spark-native analog maps
    * the same keys onto the engine's own registered operator library:
    *
    * {{{
    * engine_args = {"pipeline_command": ["graft-query"],
    *                "pipeline_args": [<registered query>, <input dir>, <output dir>]}
    * }}}
    *
    * runs that registered query over the input tables and writes the
    * result as parquet under `<output dir>/<exec_uuid>` (per-exec
    * isolation: a retry never clobbers the attempt being debugged).
    * On completion the run posts its own lifecycle event back into the
    * shared ingress — the `MQ_CALLBACK_URL` loop the reference's pods
    * close (`engine.py:130-143`) — so downstream triggers fire off a
    * real data-producing run exactly like off an HTTP/MQ-posted one:
    * success → fan-out (P2), failure → the retry gate (P3).
    *
    * Defs whose engine_args carry no `graft-query` command keep the
    * pre-r8 no-op marker closure, so the orchestration plane stays
    * fully observable for opaque payloads. */
  private[graft] def dataPlaneJob(d: Option[PipelineDef], sub: Submission): EngineJob = {
    val engineArgs = d.map(_.engine_args).getOrElse("")
    // cheap head probe decides no-op vs data-plane; the STRICT parse
    // (arity validation) runs INSIDE the closure, so a malformed
    // graft-query def fails its run (failure callback → P3 retry gate)
    // instead of either no-op'ing to success or throwing at submit
    // time, where submitAll's per-run isolation would log-and-drop the
    // run with no status at all (r8 review)
    val isQuery = graft.orchestration.ProcessEngine
      .commandFromEngineArgs(engineArgs, defaultCommand = Nil)
      .argv.headOption.contains("graft-query")
    if (!isQuery) EngineJob.SparkClosure(_ => ())
    else
      EngineJob.SparkClosure { s =>
        try {
          val (query, inputRaw, outputDir, table) =
            GraftService.parseQueryCommand(engineArgs).get
          val run = graft.SparkEntry.queries.getOrElse(query,
            throw new IllegalArgumentException(s"unknown graft query: $query"))
          // `graft-run:<base>` inputs bind to the upstream's newest
          // completed exec dir at run start (chained-DAG contract)
          val inputDir = GraftService.resolveInputDir(s, inputRaw)
          val target = table match {
            case Some(t) => s"$outputDir/${sub.exec_uuid}/$t.parquet"
            case None => s"$outputDir/${sub.exec_uuid}"
          }
          // a run leaves no memo behind: an upstream may rewrite a fixed
          // input dir between runs (stale `table:*` file listings), and
          // every `graft-run:` exec dir is new (memos would pile up for
          // the service's life)
          try run(s, inputDir).write.mode("overwrite").parquet(target)
          finally graft.operators.OpMemo.invalidate(s, Some(inputDir))
          callback(sub, "success")
        } catch {
          // a USER-ABORTED run (cancelJobGroup) must not post a failure
          // event: the P3 retry gate would resubmit the run the user
          // just killed (r8 review); the engine stamps it `aborted` and
          // the lifecycle stays silent, like a deleted pod. Detection
          // (r9, closing the r8 advice): the ENGINE'S OWN RECORD is the
          // authoritative signal — `abort()` stamps the run `aborted`
          // BEFORE cancelling the job group, so by the time the
          // interrupt reaches this catch the stamp is visible. The
          // earlier interrupt-status inference misclassified every
          // non-cancel interrupt (task reaper, timeout, executor
          // teardown) as a user abort, leaving those runs with no
          // lifecycle event at all — invisible to the retry gate.
          case e: Throwable =>
            if (!api.engines.wasAborted(sub.exec_uuid))
              callback(sub, "failure")
            throw e
        }
      }
    }

  /** The run's self-callback: ONE lifecycle event through the same
    * ingress as HTTP/MQ/cron (its subtype drives P2 fan-out / the P3
    * retry gate). Delivery failures are logged, never thrown — the
    * run's own terminal status is the engine's to stamp, and a lost
    * callback must not flip a successful run to failed. */
  private def callback(sub: Submission, subtype: String): Unit =
    safely(s"callback($subtype)") {
      val now = nowProvider()
      onEvents(Seq(LifecycleEvent(
        event_id = GraftService.callbackIds.decrementAndGet(),
        event_type = "job_exec_update", event_subtype = subtype,
        pipeline_uuid = sub.pipeline_uuid, exec_uuid = sub.exec_uuid,
        event_time = now, received_time = now,
        retry_count = sub.retry_count, disable_downstream = false)), now)
    }

  /** Graceful shutdown (`facade.py:142-150`): stop ticking, end the MQ
    * poll thread (a pending wait is interrupted, a step in flight runs
    * out), close the HTTP server. Idempotent; also wired to JVM shutdown
    * (SIGINT). */
  def shutdown(graceMillis: Long = 10000L): Unit = {
    if (stopped.compareAndSet(false, true)) {
      try {
        // ONE deadline shared by every phase (r12 review): per-phase
        // budgets of graceMillis each let worst-case shutdown run to
        // ~3× the stated grace — under a K8s terminationGracePeriod
        // sized to graceMillis, SIGKILL would land mid-phase. Whatever
        // the ticks leave goes to the poll thread's step in flight; one
        // that outlives it is cut by the process exit, and its batch
        // replays from the journaled offset.
        val deadline = System.currentTimeMillis() + graceMillis
        def remaining: Long = math.max(0L, deadline - System.currentTimeMillis())
        if (scheduler != null) {
          scheduler.shutdown()
          scheduler.awaitTermination(remaining, TimeUnit.MILLISECONDS)
          ()
        }
        if (mqThread != null) {
          mqWaitLock.synchronized { if (mqWaiting) mqThread.interrupt() }
          mqThread.join(math.max(remaining, 1L))
          if (mqThread.isAlive)
            System.err.println("[graft-service] mq poll thread still in a step at the shutdown deadline")
        }
        facade.stop()
        safely("settle")(settle())
        journal.close()
      } finally {
        if (shutdownHook != null)
          try Runtime.getRuntime.removeShutdownHook(shutdownHook)
          catch { case _: IllegalStateException => () } // already shutting down
        terminated.countDown()
      }
    }
  }

  /** Block until [[shutdown]] completes (the `run_forever` analog). */
  def awaitTermination(): Unit = terminated.await()
}

object GraftService {

  private val EventEnc = Encoders.product[LifecycleEvent]

  /** The longest pause between failed MQ turns. */
  private val MqMaxBackoffMs = 60000L

  /** Callback event-id space: the NEGATIVE half-space, nanosecond-
    * seeded and strictly DECREASING. External producers own every
    * non-negative id (enforced at both ingresses by [[JsonCodec]]), engine-internal callbacks own the negative ids, so
    * no external event can ever alias a logged callback through the
    * ingress dedup regardless of what ids producers pick (r8 advice:
    * the former wall-clock-×1000 positive seed claimed disjointness
    * external producers never agreed to). Restart safety: a new
    * incarnation seeds at −epochNanos, which the previous incarnation
    * can only have reached by issuing more callbacks than elapsed
    * NANOSECONDS — a JVM restart takes ~10⁹ of them. */
  private val callbackIds = {
    val now = java.time.Instant.now()
    new java.util.concurrent.atomic.AtomicLong(
      -(now.getEpochSecond * 1000000000L + now.getNano))
  }

  /** engine_args → (query, input dir, output dir, optional output
    * TABLE name) when the def's `pipeline_command` is the
    * `graft-query` interpreter. Reuses the exact `engine.py:110-118`
    * unmarshalling (shared with
    * [[graft.orchestration.ProcessEngine]]) so the Spark closure and a
    * process/pod backend read ONE contract.
    *
    * The optional 4th arg names the output TABLE: the run then writes
    * `<out>/<exec_uuid>/<table>.parquet` instead of the bare exec dir
    * — the layout [[graft.sources.Tables]] reads, which is what lets a
    * DOWNSTREAM graft-query def consume this run's output as its
    * input corpus (the chained-DAG contract; r8 verdict item 2). */
  private[graft] def parseQueryCommand(
      engineArgs: String): Option[(String, String, String, Option[String])] =
    graft.orchestration.ProcessEngine
      .commandFromEngineArgs(engineArgs, defaultCommand = Nil).argv match {
      case Seq("graft-query", q, in, out) => Some((q, in, out, None))
      case Seq("graft-query", q, in, out, table) => Some((q, in, out, Some(table)))
      case bad if bad.headOption.contains("graft-query") =>
        // an explicitly-declared graft-query def with the wrong arity
        // must FAIL its run (caught by the closure → failure callback →
        // P3 retry gate), never silently degrade to a no-op success
        throw new IllegalArgumentException(
          s"graft-query expects [query, inputDir, outputDir] (+ optional outputTable), got ${bad.tail}")
      case _ => None
    }

  /** Late-bound input resolution for chained defs: an input dir of the
    * form `graft-run:<base>` resolves AT RUN TIME to the newest
    * completed exec dir under `<base>` — `<base>/<exec_uuid>` whose
    * write finished (a `_SUCCESS` marker directly inside it, or inside
    * any of its `*.parquet` table dirs). Pipeline defs stay STATIC
    * (the reference's `pipeline_args` are plain strings,
    * `engine.py:110-118`) while each run reads its upstream's latest
    * successful artifact — partial writes have no marker and are never
    * selected, and a retry's fresh exec dir never clobbers what a
    * downstream might be reading. Hadoop FS throughout, so any
    * cluster filesystem works. */
  private[graft] def resolveInputDir(spark: SparkSession, in: String): String =
    if (!in.startsWith("graft-run:")) in
    else {
      val base = in.stripPrefix("graft-run:")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def completedAt(d: org.apache.hadoop.fs.Path): Option[Long] = {
        val direct = new org.apache.hadoop.fs.Path(d, "_SUCCESS")
        if (fs.exists(direct)) Some(fs.getFileStatus(direct).getModificationTime)
        else fs.listStatus(d).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.endsWith(".parquet"))
          .map(s => new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))
          .filter(fs.exists)
          .map(p => fs.getFileStatus(p).getModificationTime)
          .sorted.lastOption
      }
      val candidates = fs.listStatus(new org.apache.hadoop.fs.Path(base)).toSeq
        .filter(_.isDirectory)
        .flatMap(s => completedAt(s.getPath).map(s.getPath -> _))
      if (candidates.isEmpty)
        throw new IllegalStateException(s"no completed upstream run under $base")
      candidates.maxBy(_._2)._1.toString
    }

  /** The catalog under `root`'s `pipeline_defs/` and `pipeline_triggers/`
    * parquet dirs, collected on its first read. A missing dir is empty,
    * so a first boot binds instead of failing. */
  private[graft] def importCatalog(spark: SparkSession, root: String): Catalog = {
    def readOrEmpty[T](dir: String, enc: Encoder[T]) = {
      val p = new Path(root, dir)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) spark.read.parquet(p.toString).as(enc)
      else spark.emptyDataset(enc)
    }
    Catalog(readOrEmpty("pipeline_defs", Encoders.product[PipelineDef]))
      .withEdges(readOrEmpty("pipeline_triggers", Encoders.product[PipelineTrigger]))
  }

  /** Deployable entrypoint. Environment:
    *   GRAFT_HTTP_PORT       listen port (default 8080)
    *   GRAFT_MQ_ENDPOINT     http-mq bridge URL (omit: no MQ ingress)
    *   GRAFT_META_DIR        a first-start import: the catalog until the
    *                         journal holds one ([[importCatalog]]; never
    *                         written. omit: the demo fixtures)
    *   GRAFT_CHECKPOINT_DIR  state root: the journal and the event history
    *                         (default ./graft-ckpt)
    *   GRAFT_QUARANTINE_DIR  rejected MQ messages, one file per batch
    *                         (omit: not kept)
    *   GRAFT_ADMIN_TOKEN     static bearer token with the admin role
    *                         (omit: anonymous-allowed demo policy)
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.service()

    val catalog = sys.env.get("GRAFT_META_DIR").fold(
      Catalog(graft.meta.Fixtures.defs, graft.meta.Fixtures.edges))(importCatalog(spark, _))
    val api = new GraftApi(spark, catalog, new EngineManager(Seq(new LocalSparkEngine(spark))))
    // no permissive mode: absent a configured token one is minted and
    // printed to stderr (local demo), so the HTTP surface is never
    // accidentally open
    val adminToken = sys.env.getOrElse("GRAFT_ADMIN_TOKEN", {
      val t = java.util.UUID.randomUUID().toString
      System.err.println(s"[graft-service] GRAFT_ADMIN_TOKEN not set; minted: $t")
      t
    })
    val policy = new Auth.Policy(
      new Auth.StaticTokenVerifier(Map(adminToken -> Seq("Data-Admin"))),
      apiTokens = Set.empty)
    val service = new GraftService(
      new SecuredGraftApi(api, policy), spark,
      mqEndpoint = sys.env.get("GRAFT_MQ_ENDPOINT"),
      checkpointRoot = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "graft-ckpt"),
      quarantineDir = sys.env.get("GRAFT_QUARANTINE_DIR"))
    val addr = service.start(sys.env.getOrElse("GRAFT_HTTP_PORT", "8080").toInt)
    System.err.println(s"[graft-service] listening on $addr; SIGINT to stop")
    service.awaitTermination()
    spark.stop()
  }
}
