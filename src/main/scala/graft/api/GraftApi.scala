package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.GraftConfig
import graft.functions.Retry
import graft.model._
import graft.orchestration._
import graft.orchestration.Dispatcher.IncubRow

/** Storage backend selection — the reference's `provider_factory`
  * (D19, `data_provider.py:291-295`): a trait + factory keyed by the
  * config's provider string. The parquet store is the only shipped
  * implementation (replacing MongoDB); a Delta/JDBC store would
  * implement the same trait.
  */
trait MetaStore {
  def loadDefs(spark: SparkSession): Dataset[PipelineDef]
  def loadEdges(spark: SparkSession): Dataset[PipelineTrigger]
  def saveDefs(defs: Dataset[PipelineDef]): Unit
  def saveEdges(edges: Dataset[PipelineTrigger]): Unit
}

final class ParquetMetaStore(cfg: GraftConfig) extends MetaStore {
  // FIRST BOOT (r12 review): a fresh GRAFT_META_DIR has no parquet yet,
  // and an unconditional read crashed startup with PATH_NOT_FOUND
  // before the HTTP surface could bind — a chicken-and-egg, since the
  // files are only created by the catalogHook an HTTP upsert drives.
  // A missing path is an EMPTY catalog (the bootstrap state), while a
  // present-but-unreadable path still fails loudly via spark.read.
  private def readOrEmpty[T](spark: SparkSession, path: String,
                             enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.parquet(path).as[T](enc)
    else spark.emptyDataset[T](enc)
  }
  def loadDefs(spark: SparkSession): Dataset[PipelineDef] =
    readOrEmpty(spark, cfg.catalogPath, Encoders.product[PipelineDef])
  def loadEdges(spark: SparkSession): Dataset[PipelineTrigger] =
    readOrEmpty(spark, cfg.edgesPath, Encoders.product[PipelineTrigger])
  def saveDefs(defs: Dataset[PipelineDef]): Unit =
    Retry(3)(defs.write.mode("overwrite").parquet(cfg.catalogPath))
  def saveEdges(edges: Dataset[PipelineTrigger]): Unit =
    Retry(3)(edges.write.mode("overwrite").parquet(cfg.edgesPath))
}

object MetaStore {
  def forConfig(cfg: GraftConfig): MetaStore = cfg.metaProvider match {
    case "parquet" => new ParquetMetaStore(cfg)
    case other => throw new IllegalArgumentException(s"unknown meta provider: $other")
  }
}

/** The engine's verb surface — the reference's 18 FastAPI endpoints
  * (`kalytical/facade.py:30-126`) as library methods over the catalog,
  * event log, engine manager and dispatcher. The catalog and the
  * incubation and running state are driver values; the HTTP routes
  * ([[HttpFacade]]) gate a verb and call these directly. Auth is out of
  * scope for the engine core (SURVEY §2.a API surface).
  */
final class GraftApi(
    val spark: SparkSession,
    // @volatile (r12 review): mutations run under the facade's dispatch
    // lock but HTTP read routes read the catalog WITHOUT it — a
    // non-volatile var gives the reader thread no happens-before edge
    // with the locked write, so it could observe a stale catalog
    @volatile var catalog: Catalog,
    val engines: EngineManager,
    val cfg: GraftConfig = GraftConfig.default,
    val cronProvider: CronProvider = new RegistryCronProvider) {

  /** The Dataset boundary: `defs` ([[Catalog]]'s Dataset form) and
    * `edges` are collected on the catalog's first read, not here. */
  def this(spark: SparkSession, defs: Catalog, edges: Dataset[PipelineTrigger],
           engines: EngineManager, cfg: GraftConfig) =
    this(spark, defs.withEdges(edges), engines, cfg)

  def this(spark: SparkSession, defs: Catalog, edges: Dataset[PipelineTrigger],
           engines: EngineManager) =
    this(spark, defs, edges, engines, GraftConfig.default)

  // --- pipeline CRUD (facade.py:30-68) ---------------------------------
  // the reads (list, describe, downstream, fetch_pipeline_body) are the
  // catalog's own row functions

  /** PUT /pipeline (D5) — upsert def + its trigger edges, reconciling
    * the external schedule registration (`data_provider.py:69-70` +
    * `ext_sched.py:21-56`): a schedule registers/re-registers a cron
    * job and stamps its tracking id; removing the schedule deregisters
    * the previous registration. */
  def upsertPipeline(d: PipelineDef, triggers: Seq[PipelineTrigger]): Unit = {
    // every trigger row must belong to THIS def: a stray row for
    // another pipeline would silently inject an edge onto it — and be
    // irremovable by re-upserting d, since the upsert only replaces
    // rows keyed on d.pipeline_uuid (r7 review)
    val strays = triggers.filter(_.pipeline_uuid != d.pipeline_uuid)
    require(strays.isEmpty,
      s"trigger rows must reference pipeline_uuid=${d.pipeline_uuid}; got ${strays.map(_.pipeline_uuid).distinct.mkString(",")}")
    val prev = catalog.byUuid.get(d.pipeline_uuid)
    val reconciled = d.schedule match {
      case Some(sched) =>
        d.copy(scheduler_tracking_id =
          Some(cronProvider.createCronJob(sched, d.pipeline_uuid)))
      case None =>
        // deregistration of a removed schedule is deferred until the
        // catalog upsert succeeds: deleting first would leave the old
        // scheduled def in the catalog with its registration gone if the
        // upsert is rejected (silently-stops-firing hole)
        d.copy(scheduler_tracking_id = None)
    }
    try catalog = catalog.upsert(reconciled, triggers)
    catch {
      case e: Throwable =>
        // roll the registration back to the previous def's state so a
        // rejected upsert (D5 validation) leaves no stray cron job; the
        // schedule-removal path created nothing, so there is nothing to
        // undo there and prev's registration survives intact
        reconciled.scheduler_tracking_id.foreach { jobName =>
          prev.flatMap(p => p.schedule.map(s => (s, p))) match {
            case Some((s, p)) => cronProvider.createCronJob(s, p.pipeline_uuid)
            case None => cronProvider.deleteCronJob(jobName)
          }
        }
        throw e
    }
    if (reconciled.schedule.isEmpty)
      prev.flatMap(_.scheduler_tracking_id).foreach(cronProvider.deleteCronJob)
  }

  /** DELETE /pipeline (D6) — also deregisters any external schedule. */
  def deletePipeline(uuid: String, safeDelete: Boolean = true): Unit = {
    val tracking = catalog.byUuid.get(uuid).flatMap(_.scheduler_tracking_id)
    catalog = catalog.delete(uuid, safeDelete)
    tracking.foreach(cronProvider.deleteCronJob)
  }

  /** DELETE /pipeline/flush (D7). Flush bypasses the D6 per-pipeline
    * orphan guard, so the flushed pipelines' trigger edges go with them
    * ([[Catalog.flush]]), and so do their external schedules (r12
    * review: a flushed scheduled pipeline's CronJob kept firing
    * callbacks for a nonexistent pipeline forever, and the stale
    * registration was unreachable afterwards because the def carrying
    * its tracking id was gone). */
  def flushPipelines(prefix: String): Unit = {
    val doomed = catalog.list(Some(prefix))
    catalog = catalog.flush(prefix)
    doomed.foreach(_.scheduler_tracking_id.foreach(cronProvider.deleteCronJob))
  }

  // --- events & history (facade.py:100-116) ----------------------------
  /** POST /pipeline/dispatcher/event + the run_by_pipeline_uuid variant
    * (synthesizes an origination event, facade.py:72-78). One batch
    * step of the dispatcher over the catalog; returns its outputs.
    *
    * A success or failure report for exec X means X has stopped, even
    * when the running rows still list it: the service's rows drop X only
    * once the record holding the report is written, after this fold, and
    * an engine can report X running while its callback fires inside the
    * still-running closure. Gated against that row, the retry of a
    * `concurrency = false` pipeline would incubate behind its own
    * finished attempt for the whole debounce. Neither ingress requires
    * `exec_uuid`: a report without one names no exec, and a running row
    * without one is kept. */
  def dispatchRows(events: Seq[LifecycleEvent],
                   running: Seq[RunningJob],
                   incubating: Seq[IncubRow],
                   now: Timestamp): Dispatcher.Step = {
    val finished = GraftApi.finished(events)
    val live = running.filterNot(j => j.exec_uuid != null && finished(j.exec_uuid))
    Dispatcher.step(catalog, live, incubating, events, now,
      cfg.concurrencyDebounceSeconds, cfg.incubatingJobAgeOutSeconds)
  }

  /** [[dispatchRows]] over Dataset state, with Dataset outputs (the
    * service benchmark's replay calls this form). */
  def dispatch(events: Seq[LifecycleEvent],
               running: Dataset[RunningJob],
               incubating: Dataset[IncubRow],
               now: Timestamp): Dispatcher.StepResult =
    dispatchRows(events, running.collect().toSeq, incubating.collect().toSeq, now).toResult(spark)

  /** The synthesized manual-run origination — one definition so the
    * HTTP facade can log the SAME event it dispatches (manual runs
    * used to bypass the history log, r7 review). */
  def manualOrigination(uuid: String, now: Timestamp): LifecycleEvent = {
    // negative id: engine-minted, the reserved half-space (see
    // Cron.fire's sub-range note; r10 review). Strictly-decreasing
    // per-process floor: two manual runs of DIFFERENT pipelines in the
    // same millisecond would otherwise alias in the durable event log —
    // the uniqueness contract the ingress negative-id guard defends for
    // external producers (r10 advice). Magnitude stays ~epochMs (~1e12),
    // so the documented id-space map is unchanged.
    val id = GraftApi.manualIdFloor.updateAndGet(prev => math.min(-now.getTime, prev - 1))
    LifecycleEvent(id, "job_exec_update", "origination", uuid,
      s"manual-$uuid-${now.getTime}", now, now, 0, disable_downstream = false)
  }

  /** GET /pipeline/event/history (D10 semantics; stub in reference)
    * over a whole log; the HTTP route answers recent windows from the
    * facade's driver-held tail. */
  def eventHistory(events: Dataset[LifecycleEvent], now: Timestamp,
                   pipelineUuid: Option[String] = None,
                   sinceSeconds: Option[Long] = None,
                   maxRecords: Option[Int] = None): DataFrame =
    EventLog.history(events, now,
      sinceSeconds.getOrElse(cfg.historySinceSeconds), pipelineUuid,
      maxRecords = maxRecords.getOrElse(cfg.historyMaxRecords))

  // --- runs (facade.py:80-98) ------------------------------------------
  // the running page is the engines' `filteredRows`
  /** POST /pipeline/abort (E3/E6). */
  def abort(execUuid: String): Unit = engines.abort(execUuid)

  /** GET /pipeline/logs (E5). */
  def logs(engine: EngineBackend, execUuid: String, maxKb: Int = 10): String =
    engine.logs(execUuid, maxKb)

  // --- single-use runs, incubation point ops, sys config ---------------
  /** POST /pipeline/dispatcher/run_single_use (`facade.py:80-83`) —
    * submit an UNREGISTERED definition straight to its engine: no
    * catalog write, exec uuid minted here, source tagged 'singleuse'.
    * Returns the exec uuid for status/log/abort follow-ups. */
  def runSingleUse(d: PipelineDef, job: EngineJob,
                   now: Timestamp = new Timestamp(System.currentTimeMillis())): String = {
    val execUuid = s"exec-${d.pipeline_uuid}-singleuse-${now.getTime}"
    engines.submit(d.engine, Submission(d.pipeline_uuid, execUuid,
      Map("requestor" -> "singleuse"), 0), job)
    execUuid
  }

  /** GET /pipeline/incubation/update (D15, `facade.py:109-114`) —
    * point-update one incubating row's waiting slots; an absent obj_id
    * is the reference's 404 path. */
  def updateIncubating(incubating: Seq[IncubRow], objId: String,
                       updates: Map[String, String]): Seq[IncubRow] = {
    require(incubating.exists(_.obj_id == objId),
      s"Could not update entry for id=$objId") // facade.py:113
    incubating.map(r => if (r.obj_id == objId) r.copy(triggers = r.triggers ++ updates) else r)
  }

  /** DELETE /pipeline/incubation/delete (D16, `facade.py:116-118`). */
  def deleteIncubating(incubating: Seq[IncubRow], objId: String): Seq[IncubRow] =
    incubating.filterNot(_.obj_id == objId)

  /** GET /sys/config (`facade.py:124-126`) — the config as a dict. */
  def sysConfig: Map[String, String] =
    cfg.productElementNames.zip(cfg.productIterator.map(String.valueOf)).toMap
}

object GraftApi {
  /** The exec_uuids whose success or failure report `events` hold: the
    * runs the batch ends. */
  private[graft] def finished(events: Seq[LifecycleEvent]): Set[String] =
    events.collect {
      case e if e.event_type == "job_exec_update" && e.exec_uuid != null &&
          (e.event_subtype == "success" || e.event_subtype == "failure") => e.exec_uuid
    }.toSet

  /** Floor for minted manual-run event ids: updateAndGet keeps ids
    * strictly decreasing even when several manual runs land in one
    * millisecond (r10 advice — same-ms runs of different pipelines
    * aliased on -epochMs alone). */
  private[api] val manualIdFloor = new java.util.concurrent.atomic.AtomicLong(0L)
}
