package graft.api

import java.net.InetSocketAddress
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftConfig
import graft.model.{LifecycleEvent, PipelineDef, PipelineTrigger, Submission}
import graft.orchestration.{Catalog, Cron, Dispatcher, EngineJob, EngineManager, LocalSparkEngine}

/** THE deployable process — the reference's service wiring
  * (`kalytical/facade.py:138-150`: one asyncio
  * loop carrying uvicorn + `MQ_Poller.fetch_message_loop` +
  * `IncubatingJobCuller.cull_jobs_loop`, SIGINT → graceful shutdown)
  * re-expressed Spark-first. One `GraftService` composes everything
  * the repo already has into one long-running program:
  *
  *  - the 18-endpoint [[HttpFacade]] (uvicorn analog), which OWNS the
  *    running/incubating/event-log state between requests;
  *  - the MQ ingress: ONE Structured Streaming query over the
  *    socket-backed `http-mq` DSv2 source (`mq_poller.py:16-30`'s SQS
  *    long-poll; the 2 s `WaitTimeSeconds` becomes the processing-time
  *    trigger), checkpointed offsets instead of the reference's
  *    delete-at-most-one-per-poll ack bug, with the corrupt-message
  *    quarantine (`_unmarshall_sqs`'s except-log path) persisted as an
  *    append-only text sink;
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
  * reflects them immediately.
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
    // when set, HTTP catalog mutations (upsert/delete/flush) save
    // defs+edges through this store after each change — without it the
    // catalog is as ephemeral as the library regime, while the rest of
    // the service state is durable (r7 review)
    metaStore: Option[MetaStore] = None,
    pollInterval: FiniteDuration = 2.seconds, // mq_poller.py:20 WaitTimeSeconds=2
    cronCheckInterval: FiniteDuration = 5.seconds, // fires once per due minute
    nowProvider: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {

  import GraftService.EventEnc

  private val api = secured.api
  val facade = new HttpFacade(secured, spark, nowProvider,
    () => Map("mq_ingest_health" -> mqIngestUnhealthy.getOrElse("ok")),
    sysActions = Map("clear_mq_ingest_health" -> (() => clearMqIngestHealth())))

  // @volatile: the mq watchdog tick (scheduler thread) restarts a dead
  // query by reassigning this; shutdown (caller thread) reads it after
  // quiescing the scheduler
  @volatile private[graft] var mqQuery: Option[StreamingQuery] = None
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

    mqQuery = mqEndpoint.map(startMqIngest)

    scheduler = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-service-ticks"); t.setDaemon(true); t
    }
    scheduler.scheduleWithFixedDelay(() => safely("cull") { cullTick() },
      cfg.cullingIntervalSeconds, cfg.cullingIntervalSeconds, TimeUnit.SECONDS)
    scheduler.scheduleWithFixedDelay(() => safely("cron") { cronTick() },
      cronCheckInterval.toMillis, cronCheckInterval.toMillis, TimeUnit.MILLISECONDS)
    // MQ WATCHDOG (r12 review): one exception escaping the event path
    // of foreachBatch (a failed journal write, a transient FS error)
    // permanently TERMINATES the
    // ingest query while the HTTP surface keeps answering — events
    // then pile up at the broker until an operator bounces the whole
    // process. The reference's poller loop log-and-continues
    // (mq_poller.py:27); the streaming analog is restart-from-
    // checkpoint: offsets resume where the dead incarnation committed,
    // and the at-least-once window a mid-batch death opens is exactly
    // the one the event-id dedup already bounds. The watchdog runs on
    // the tick scheduler, which shutdown() quiesces BEFORE draining
    // the query — so a restart can never race the drain.
    scheduler.scheduleWithFixedDelay(() => safely("mq-watch") { mqWatchTick() },
      10, 10, TimeUnit.SECONDS)

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
      facade.refreshRunning()
    }
    // catalog mutations persist through the MetaStore when configured:
    // the catalog is driver rows, so the store's files serve restart-time
    // loads only and no reader scans them while a save overwrites them
    metaStore.foreach { store =>
      facade.catalogHook.set { () =>
        val c = api.catalog
        store.saveDefs(spark.createDataset(c.defs)(Encoders.product[PipelineDef]))
        store.saveEdges(spark.createDataset(c.edges)(Encoders.product[PipelineTrigger]))
      }
    }
    val open = journal.open
    if (open.nonEmpty) {
      submitAll(open)
      facade.refreshRunning()
    }
  }

  // Restart-loop discipline (r12 advice): an unconditional 10 s restart
  // of a DETERMINISTICALLY failing batch (poison message past
  // quarantine, tail-rewind IllegalStateException, persistent FS error)
  // re-executes the failing batch's foreachBatch side effects forever.
  // Consecutive death-observations back off exponentially (2^n ticks,
  // capped) and after MqMaxRestartFailures the watchdog STOPS restarting
  // and raises `mq_ingest_health` on GET /sys/config — a permanent
  // fault degrades loudly instead of looping. A completed batch on a
  // restarted incarnation (lastProgress non-null) resets the counter,
  // so transient faults keep the old self-healing behavior.
  private[graft] val mqRestartFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private[graft] var mqBackoffTicks: Int = 0
  @volatile private[graft] var mqActiveTicks: Int = 0
  @volatile private[graft] var mqIngestUnhealthy: Option[String] = None
  private[graft] val MqMaxRestartFailures = 8
  /** Consecutive active watchdog ticks (~1 hour at the 10 s cadence)
    * after which a restarted incarnation counts as recovered even with
    * NO completed batch (r13 ADVICE #2: on an idle topic lastProgress
    * stays null forever, so transient deaths spread over weeks
    * accumulated to the halt cap). The window is deliberately LONG
    * (r14 review: a 3-minute window silently re-opened the infinite-
    * restart loop for deterministic faults with a period over 3
    * minutes — e.g. a poison message arriving every 10 minutes reset
    * the count each cycle and the halt cap never fired): a fault that
    * recurs FASTER than hourly still accumulates to the cap and halts
    * loudly, while one rarer than hourly is indistinguishable from the
    * transient faults this reset exists for, and its side-effect
    * replay is bounded to at most one per window — the residual an
    * operator watches via `mq_ingest_health` and clears via the
    * admin action. */
  private[graft] val MqStableResetTicks = 360

  /** Admin reset for the halt state (r13 ADVICE #2: mqIngestUnhealthy
    * had no reset path short of a process restart): clears the health
    * flag and counters so the next watchdog tick resumes restarting.
    * Reached over HTTP via `POST /sys/config?action=clear_mq_ingest_health`
    * (admin role — the flush verb class). */
  def clearMqIngestHealth(): String = {
    val was = mqIngestUnhealthy
    mqIngestUnhealthy = None
    mqRestartFailures.set(0); mqBackoffTicks = 0; mqActiveTicks = 0
    val msg = was match {
      case Some(w) => s"cleared: $w"
      case None    => "already ok"
    }
    System.err.println(s"[graft-service] mq ingest health reset by admin - $msg")
    msg
  }

  private[graft] def mqWatchTick(): Unit =
    mqEndpoint.foreach { ep =>
      if (!stopped.get()) mqQuery.foreach { q =>
        if (q.isActive) {
          mqActiveTicks += 1
          // recovery = a completed batch OR sustained uptime: an idle
          // topic never completes a batch, and without the uptime arm
          // rare transient deaths accumulate forever (r13 ADVICE #2)
          if (mqRestartFailures.get() > 0 &&
              (q.lastProgress != null || mqActiveTicks >= MqStableResetTicks)) {
            val how = if (q.lastProgress != null) "batch completed"
                      else s"active ${MqStableResetTicks} ticks"
            System.err.println(s"[graft-service] mq ingest recovered ($how) - resetting failure count")
            mqRestartFailures.set(0); mqBackoffTicks = 0
          }
        } else if (mqIngestUnhealthy.isEmpty) {
          mqActiveTicks = 0
          if (mqBackoffTicks > 0) mqBackoffTicks -= 1
          else {
            val why = q.exception.map(_.getMessage).getOrElse("stopped cleanly")
            val n = mqRestartFailures.incrementAndGet()
            if (n >= MqMaxRestartFailures) {
              mqIngestUnhealthy = Some(
                s"mq ingest halted after $n consecutive failed restarts; last error: $why")
              System.err.println(s"[graft-service] ${mqIngestUnhealthy.get} - " +
                "NOT restarting (see /sys/config mq_ingest_health)")
            } else {
              mqBackoffTicks = math.min(1 << n, 32) // 20 s … ~5 min between tries
              System.err.println(
                s"[graft-service] mq ingest query died ($why) - restart $n/$MqMaxRestartFailures, " +
                  s"next retry in ${10 * (mqBackoffTicks + 1)}s if it dies again")
              mqQuery = Some(startMqIngest(ep))
            }
          }
        }
      }
    }

  private def startMqIngest(ep: String): StreamingQuery = {
      // per-checkpoint-incarnation token: batch ids restart at 0
      // whenever the checkpoint is deleted/reset, and a batchId-only
      // quarantine key would then overwrite the PREVIOUS incarnation's
      // forensic rows (r8 advice). The token is the streaming QUERY ID
      // from the checkpoint's own metadata file — stable across
      // restarts that keep the checkpoint (so a replayed batch still
      // overwrites its own dir, staying idempotent), fresh exactly
      // when the checkpoint is reset (so incarnations never collide).
      // Read lazily (the file exists once the query starts, before the
      // first batch); Hadoop FS so any checkpoint filesystem works.
      // Memoized ONLY on a successful read (r9 advice: a `lazy val`
      // caches whatever the FIRST evaluation produced — after one
      // transient FS error the wall-clock fallback was pinned for the
      // whole incarnation, so a post-restart replayed batch wrote its
      // forensic rows under a FRESH token dir instead of overwriting
      // its own, re-introducing the duplicate-rows non-idempotency on
      // the error path). Every batch retries the metadata read until
      // one succeeds; a failed read throws, which the QUARANTINE
      // try-guard below converts to a loudly-logged skip of THAT
      // batch's forensic write — never an unstable wall-clock token,
      // and never a dead ingest stream (a foreachBatch exception
      // would TERMINATE the query permanently, r10 review #1: nothing
      // watches/restarts mqQuery, so 'fail the batch loudly' here
      // would actually mean 'halt all MQ ingest until process
      // restart'). Quarantine is best-effort forensics; the EVENT
      // path below never depends on the token.
      val runTokenCache = new java.util.concurrent.atomic.AtomicReference[String](null)
      def runToken: String = Option(runTokenCache.get()).getOrElse {
        val p = new org.apache.hadoop.fs.Path(s"$checkpointRoot/mq-ingest/metadata")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val tok = """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(body)
          .map(m => s"run_${m.group(1)}")
          .getOrElse(sys.error(s"no id in stream metadata at $p"))
        runTokenCache.compareAndSet(null, tok)
        runTokenCache.get()
      }
      val raw = spark.readStream.format("http-mq").option("endpoint", ep).load()
        .selectExpr("CAST(value AS STRING) AS value")
      raw.writeStream
        .queryName("graft-mq-ingest")
        .option("checkpointLocation", s"$checkpointRoot/mq-ingest")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(pollInterval.toMillis))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // one Spark job reads the batch; the codec decodes each
          // message on the driver, with the HTTP ingress's rules
          val (decoded, rejected) = facade.codec.messages(
            batch.collect().toSeq.map(_.getString(0)))
          quarantineDir.foreach { d =>
            // BEST-EFFORT guard (r10 review #1): a throw here — token
            // metadata read OR the text write itself — would kill the
            // 'graft-mq-ingest' query permanently and silently halt
            // ALL event ingest while the HTTP facade keeps answering.
            // Forensics must never outrank the data path: on failure,
            // log loudly and move on; the next batch retries the
            // (success-memoized) token read.
            try {
              // per-batch OVERWRITE, not a flat append: rejected
              // messages have no event_id to dedup by, so a replayed
              // batch would append the same forensic rows again forever
              // — keyed on the stream's batchId, the replay overwrites
              // its own dir and the quarantine stays idempotent (r8
              // review #3)
              if (rejected.nonEmpty)
                spark.createDataset(rejected)(Encoders.STRING).write.mode("overwrite")
                  .text(s"$d/$runToken/batch_$batchId")
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft] quarantine write skipped for batch $batchId: ${e.getMessage}")
            }
          }
          // poll-sized batch -> the shared ingress (catalog regime).
          // MQ delivery is at-least-once against the service's own
          // durable state (dispatch + persist happen BEFORE the stream
          // checkpoint commits the offset), so a crash in that window
          // replays the batch — dedup by event_id against the logged
          // ids (restored from the durable log at start) makes the
          // replay a no-op instead of duplicating history rows and
          // re-dispatching already-applied events (r7 advice, medium).
          // Since r8 the log append runs AFTER effects apply
          // (HttpFacade.ingest), so a logged id always means an applied
          // event — the dedup can never drop a batch whose effects were
          // lost mid-apply.
          // distinctBy first: SQS-style redelivery can land the same
          // event_id TWICE IN ONE POLL, which the id probe alone
          // cannot catch (neither copy is persisted yet)
          val batchIds = scala.collection.mutable.Set.empty[Long]
          val now = nowProvider()
          val events = decoded
            .filter(e => batchIds.add(e.event_id)) // keep FIRST copy, preserve arrival order
            // SINK-STAMP received_time (the reference stamps at the
            // data provider, `data_provider.py:130`): producer-supplied
            // times can be null or arbitrarily old, which would both
            // hide rows from history queries AND make the dedup horizon
            // below never match a replayed id (r8 review #2.1). Stamping at
            // first ingest also makes received_time rise monotonically
            // across appended log files, which is what lets parquet
            // row-group stats skip old history in a history read.
            .map(_.copy(received_time = now))
          if (events.nonEmpty) {
            // probe + dispatch under ONE facade-lock acquisition
            // (facade.ingestDedup, r8 review #2.3): probing outside the
            // lock could miss an id a concurrent HTTP step is applying,
            // and the event would apply twice. Horizon: a replayed id's logged copy
            // carries its first-processing stamp — minutes (broker
            // redelivery) to one restart gap (checkpoint replay) old —
            // so the probe needs only recent ids; generous (7 days)
            // because a miss only degrades to at-least-once.
            val cutoff = new Timestamp(
              now.getTime - cfg.mqDedupHorizonDays * 86400000L)
            facade.ingestDedup(events, now, cutoff)
            ()
          }
        }
        .start()
  }

  // ---- durable service state -------------------------------------------
  // The reference keeps incubating runs + event history in MongoDB, one
  // document write per change, so its process restarts resume
  // mid-lifecycle (an incubating child's first satisfied dep survives).
  // Here the state is the facade's driver values, made durable by ONE
  // journal under `service-state/journal` ([[Journal]]): each step
  // commits one hsync'd JSON line — its events, its incubation delta
  // and its submissions (the outbox) — before any of it takes effect.
  // An MQ batch is one step, so the batch commits together. A restart
  // replays the last snapshot and the segments after it: the
  // incubation rows, the logged ids (the MQ replay probe), the history
  // tail's coverage floor and the uncompacted events, the cron
  // high-water minute, and the outbox, whose still-open runs are
  // submitted once more (an engine whose runs outlive the process
  // dedups by exec_uuid); an abort closes the runs its token names. A
  // fresh root costs one existence probe. The culler tick compacts:
  // closed segments' events go to the parquet history under
  // `service-state/events` (one file per segment, so a re-run replaces
  // its own file), then a snapshot replaces the segments. On a `file:`
  // root the moved files, their directory and the snapshot's rename are
  // forced to the disk before the segments are deleted; elsewhere the
  // filesystem's own close and rename guarantees hold.

  private def stateRoot = s"$checkpointRoot/service-state"
  private def eventsDir = s"$stateRoot/events"
  // the HADOOP filesystem of checkpointRoot, like the MQ runToken beside
  // it (r12 review: java.nio paths silently resolved "hdfs://..." to a
  // LOCAL directory literally named "hdfs:")
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
    journal.commit(c.events, c.rows, c.submissions, c.closed)
    fault("after-journal")
  }

  /** Close the open runs the engines report ended: a run whose job
    * posts no callback would otherwise be resubmitted by every restart. */
  private def settle(): Unit = {
    val open = journal.open
    if (open.nonEmpty) {
      val ended = api.engines.allRows(spark)
        .collect { case j if !Dispatcher.Live(j.engine_status) => j.exec_uuid }.toSet
      val closed = open.map(_.exec_uuid).filter(ended)
      if (closed.nonEmpty)
        facade.locked(journal.commit(Nil, facade.incubating.rows, Nil, closed))
    }
  }

  /** Compaction (the culler tick): roll the segment, move the closed
    * segments' events to the parquet history, snapshot the state they
    * leave, delete them. Each step is safe to re-run after a crash. */
  private[graft] def compact(): Unit =
    facade.locked(journal.roll().map(_ -> facade.eventLog.heldCount)).foreach { case (cut, held) =>
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
      facade.eventLog.compacted(held, eventsDir) {
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
      facade.incubating.set(journal.incubating)
      lastCronMinute = journal.cron
      // the replayed events are the MQ replay probe's, and the whole
      // log's; the history tail holds only this incarnation's events, so
      // its coverage starts after every restored one
      val stamped = segments.flatMap(_._2).filter(_.received_time != null)
      facade.loggedIds.add(stamped.map(e => e.event_id -> e.received_time.getTime))
      stamped.map(_.received_time.getTime).maxOption.foreach(facade.tail.raiseFloor)
      val history = new Path(eventsDir)
      val fs = hadoopFs(history)
      if (!fs.exists(history)) facade.eventLog.append(segments.flatMap(_._2))
      else {
        // a segment whose file is already in the history was moved there
        // by a compaction that a crash cut short
        val moved = fs.listStatus(history).map(_.getPath.getName).toSet
        facade.eventLog.append(segments.collect {
          case (n, events) if !moved(s"${Journal.segmentName(n)}.parquet") => events
        }.flatten)
        facade.eventLog.compacted(0, eventsDir)(())
        // one read: the history's ids within the MQ dedup horizon. Every
        // history row lies at or below the newest of them or below the
        // cutoff, so the history tail covers only windows after both.
        val cutoff = nowProvider().getTime - cfg.mqDedupHorizonDays * 86400000L
        val recent = spark.read.schema(EventEnc.schema).parquet(eventsDir)
          .where(col("received_time") >= lit(new Timestamp(cutoff)))
          .select(col("event_id"), col("received_time")).collect()
          .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toSeq
        facade.loggedIds.add(recent)
        facade.tail.raiseFloor((cutoff +: recent.map(_._2)).max)
      }
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
    * submission + gate refresh ride the installed submissionSink. */
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

  /** Graceful shutdown (`facade.py:142-150`): stop ticking, drain the
    * in-flight micro-batch (bounded grace), stop the stream, close the
    * HTTP server. Idempotent; also wired to JVM shutdown (SIGINT). */
  def shutdown(graceMillis: Long = 10000L): Unit = {
    if (stopped.compareAndSet(false, true)) {
      try {
        // ONE deadline shared by every phase (r12 review): per-phase
        // budgets of graceMillis each let worst-case shutdown run to
        // ~3× the stated grace — under a K8s terminationGracePeriod
        // sized to graceMillis, SIGKILL would land mid q.stop()/
        // facade.stop(), reopening the interrupt-between-effects-and-
        // checkpoint replay window the drain exists to close. Phases
        // spend from the same budget; whatever remains goes to the
        // drain, which matters most (stop() interrupts the in-flight
        // batch; an expired drain degrades to the documented
        // at-least-once replay — observed r12 under a co-resident test
        // JVM, where a 1-event batch outlived the old 5 s cap).
        val deadline = System.currentTimeMillis() + graceMillis
        def remaining: Long = math.max(0L, deadline - System.currentTimeMillis())
        if (scheduler != null) {
          scheduler.shutdown()
          scheduler.awaitTermination(remaining, TimeUnit.MILLISECONDS)
          ()
        }
        mqQuery.foreach { q =>
          // bounded drain: a ProcessingTime query never self-terminates,
          // so awaitTermination cannot observe "batch done" — poll the
          // trigger-active flag instead and stop once the in-flight
          // micro-batch (ingest + persist) has committed; a hung batch
          // must not wedge shutdown, so the wait is capped.
          // Exception-safe (r12 review): a query that already DIED
          // rethrows its stored StreamingQueryException from both
          // stop() and awaitTermination() — letting that propagate
          // skipped facade.stop(), leaking the HttpServer's non-daemon
          // pool threads (the exact JVM-never-exits leak the r7
          // HttpFacade.stop() fix closed). The query is dead either
          // way; log and keep shutting down.
          try {
            while (q.status.isTriggerActive && remaining > 0)
              Thread.sleep(50)
            q.stop()
            q.awaitTermination(math.max(remaining, 1000L))
            ()
          } catch {
            case e: Throwable =>
              System.err.println(s"[graft-service] mq query shutdown: ${e.getMessage}")
          }
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

  /** Deployable entrypoint. Environment:
    *   GRAFT_HTTP_PORT       listen port (default 8080)
    *   GRAFT_MQ_ENDPOINT     http-mq bridge URL (omit: no MQ ingress)
    *   GRAFT_META_DIR        parquet metadata root (omit: demo fixtures)
    *   GRAFT_CHECKPOINT_DIR  streaming checkpoint root (default ./graft-ckpt)
    *   GRAFT_ADMIN_TOKEN     static bearer token with the admin role
    *                         (omit: anonymous-allowed demo policy)
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.service()

    val cfg = sys.env.get("GRAFT_META_DIR") match {
      case Some(root) => GraftConfig.default.copy(
        catalogPath = s"$root/pipeline_defs", edgesPath = s"$root/pipeline_triggers")
      case None => GraftConfig.default
    }
    val store = sys.env.get("GRAFT_META_DIR").map(_ => MetaStore.forConfig(cfg))
    val engines = new EngineManager(Seq(new LocalSparkEngine(spark)))
    // the store's files are collected once, on the catalog's first read
    val api = store match {
      case Some(s) => new GraftApi(spark, Catalog(s.loadDefs(spark)), s.loadEdges(spark), engines, cfg)
      case None => new GraftApi(spark, Catalog(graft.meta.Fixtures.defs, graft.meta.Fixtures.edges),
        engines, cfg)
    }
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
      quarantineDir = sys.env.get("GRAFT_QUARANTINE_DIR"),
      cfg = cfg,
      metaStore = store)
    val addr = service.start(sys.env.getOrElse("GRAFT_HTTP_PORT", "8080").toInt)
    System.err.println(s"[graft-service] listening on $addr; SIGINT to stop")
    service.awaitTermination()
    spark.stop()
  }
}
