package graft.orchestration

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.model.{RunningJob, Submission}

/** Execution-engine abstraction: the reference's `EngineManager` +
  * `K8sJobEngine` (E1–E8, `/root/reference/src/kalytical/core/
  * engine.py`) mapped onto Spark's execution model.
  *
  * One pipeline run = one asynchronous Spark action inside a job group
  * named by the exec uuid — so `abort` is `cancelJobGroup` (E6) and the
  * status snapshot is a Dataset over the engine's run registry (E7),
  * queryable/filterable with pushdown instead of the reference's
  * client-side loop (E2's own TODO at `engine.py:53-58`).
  */
/** What a run executes. The reference marshals the pipeline's
  * `engine_args` into a pod spec (command/args/image + env,
  * `engine.py:107-150`); here the payload is typed: a Spark closure for
  * in-cluster backends, an OS command for pod/process-per-run backends. */
sealed trait EngineJob
object EngineJob {
  /** A run body executed inside the engine's SparkSession. */
  final case class SparkClosure(body: SparkSession => Unit) extends EngineJob
  /** A run executed as a separate OS process (the reference's
    * container command + args, `engine.py:110-118`). */
  final case class Command(argv: Seq[String], env: Map[String, String] = Map.empty)
      extends EngineJob
}

trait EngineBackend {
  def name: String
  /** E4 — launch a run. Backends reject job kinds they cannot host. */
  def submit(sub: Submission, job: EngineJob): Unit
  /** E6 — abort by exec uuid. */
  def abort(execUuid: String): Unit
  /** E7 — live run snapshot. */
  def jobs(spark: SparkSession): Dataset[RunningJob]
  /** E7 as driver rows — what the concurrency gate and the running
    * route read. Backends that keep their runs in memory override it so
    * the read plans no query. */
  def rows(spark: SparkSession): Seq[RunningJob] = jobs(spark).collect().toSeq
  /** E5 — tail of the run's captured log, byte-capped. */
  def logs(execUuid: String, maxKb: Int = 10): String
  /** Whether this backend recorded a user abort for the run — the
    * AUTHORITATIVE cancellation signal a running closure consults
    * before deciding a thrown interrupt means "user killed me"
    * (suppress the failure callback) vs "infrastructure killed me"
    * (post it, so the P3 retry gate sees the failure). Backends that
    * cannot observe aborts (a deleted pod just vanishes) keep the
    * default `false`. */
  def wasAborted(execUuid: String): Boolean = false
}

/** Shared run-registry mechanics of the in-process backends — ONE
  * definition of id resolution, terminal-run eviction and the
  * byte-capped log tail (r12 review: LocalSparkEngine and
  * ProcessEngine carried verbatim copies, and the copies had ALREADY
  * diverged — ProcessEngine's natural-exit path dropped the
  * `evictTerminal()` call the r10 leak fix added, so its terminal
  * ledger — each row holding up to a 1 MiB log buffer — grew without
  * bound in a long-lived service). */
private[orchestration] trait RunRegistry {
  /** Backend-specific run-state payload. */
  protected type St <: AnyRef
  protected val runs = new ConcurrentHashMap[String, St]()
  protected def statusOf(st: St): String
  protected def trackingIdOf(st: St): String
  protected def startOf(st: St): Timestamp
  protected def endOf(st: St): Option[Timestamp]
  protected def logBufOf(st: St): StringBuilder

  /** Accept either the run's exec_uuid or the tracking id `jobs`
    * reports (r10 review: the HTTP abort/get_logs routes pass
    * `engine_tracking_id`, which no backend keyed on). UNION, not
    * exact-key short-circuit (r12 review): the dispatcher's exec uuids
    * (`exec-<pipeline>-<eventId>`) and spark-local's tracking ids
    * (`exec-<pipeline>-<retry>`) share a namespace, so one token can
    * be run A's exec uuid AND run B's tracking id — the old
    * containsKey short-circuit silently dropped B, aborting only the
    * aliased run while the caller's target kept running. "Every match
    * is the caller's target" is the r10 fan-out contract; the union
    * honors it across both namespaces. */
  protected def resolveIds(token: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val byTracking =
      runs.asScala.collect { case (id, st) if trackingIdOf(st) == token => id }.toSeq
    ((if (runs.containsKey(token)) Seq(token) else Seq.empty) ++ byTracking)
      .distinct.sorted
  }

  /** Bound the terminal-run ledger (r10 review: nothing ever evicted,
    * so a long-lived service grew this map — and the jobs() snapshot
    * it feeds — without bound). Live runs are never evicted. */
  protected val MaxTerminalRuns = 512
  protected def evictTerminal(): Unit = {
    import scala.jdk.CollectionConverters._
    val terminal = runs.asScala.toSeq.filter(t => statusOf(t._2) != "running")
    if (terminal.size > MaxTerminalRuns)
      terminal.sortBy(t => endOf(t._2).map(_.getTime).getOrElse(0L))
        .take(terminal.size - MaxTerminalRuns)
        .foreach { case (id, _) => runs.remove(id); () }
  }

  /** E5 tail. Resolution order (r12 advice): an EXACT exec_uuid key
    * wins outright — when a token is run A's exec_uuid and also run
    * B's tracking id, a read API must serve A, not whichever is live
    * (the union + live-first heuristic is ABORT fan-out semantics and
    * stays confined to abort()/wasAbortedIn). Only a non-key token
    * falls back to the tracking-id matches, live-first then newest
    * start (r10 advice — headOption of the id-sorted matches could
    * serve an arbitrary terminal run's logs). */
  def logs(execUuid: String, maxKb: Int = 10): String = {
    val full = Option(runs.get(execUuid)).orElse {
      resolveIds(execUuid).flatMap(id => Option(runs.get(id)))
        .sortBy(st => (if (statusOf(st) == "running") 0 else 1, -startOf(st).getTime))
        .headOption
    }.map(st => { val b = logBufOf(st); b.synchronized(b.toString) }).getOrElse("")
    val cap = maxKb * 1024
    if (full.length <= cap) full else full.substring(full.length - cap)
  }

  def wasAbortedIn(token: String): Boolean =
    resolveIds(token).exists(id => Option(runs.get(id)).exists(st => statusOf(st) == "aborted"))
}

/** Local backend: runs each submission as a Spark action in its own
  * job group on a daemon thread pool. A K8s/cluster backend would
  * implement the same trait (the reference's engine registry, E1). */
final class LocalSparkEngine(spark: SparkSession) extends EngineBackend with RunRegistry {
  val name = "spark-local"

  protected case class RunState(sub: Submission, status: String,
      start: Timestamp, end: Option[Timestamp], log: StringBuilder)
  protected type St = RunState
  protected def statusOf(st: RunState): String = st.status
  protected def trackingIdOf(st: RunState): String =
    s"exec-${st.sub.pipeline_uuid}-${st.sub.retry_count}"
  protected def startOf(st: RunState): Timestamp = st.start
  protected def endOf(st: RunState): Option[Timestamp] = st.end
  protected def logBufOf(st: RunState): StringBuilder = st.log
  private implicit val ec: ExecutionContext = ExecutionContext.global

  def submit(sub: Submission, job: EngineJob): Unit = {
    val body = job match {
      case EngineJob.SparkClosure(b) => b
      case other: EngineJob.Command =>
        throw new IllegalArgumentException(
          s"$name hosts Spark closures, not OS commands (got $other); use ProcessEngine")
    }
    val st = RunState(sub, "running", new Timestamp(System.currentTimeMillis()), None, new StringBuilder)
    runs.put(sub.exec_uuid, st)
    Future {
      spark.sparkContext.setJobGroup(sub.exec_uuid,
        s"pipeline ${sub.pipeline_uuid} retry ${sub.retry_count}", interruptOnCancel = true)
      // atomic running→terminal transitions (ConcurrentHashMap bin
      // lock, the ProcessEngine pattern): a plain get-then-put here let
      // an interleaved abort() be clobbered by the completing Future's
      // stale snapshot — the run reported success after a user abort
      // (r7 review)
      try {
        body(spark)
        // log access synchronized (r10 review: get_logs reads this
        // StringBuilder from an HTTP pool thread while the Future
        // appends — StringBuilder is not thread-safe, a torn read can
        // return garbage or throw; the ProcessEngine pattern)
        st.log.synchronized { st.log.append(s"run ${sub.exec_uuid} completed\n"); () }
        runs.computeIfPresent(sub.exec_uuid, (_, cur) =>
          if (cur.status == "running")
            cur.copy(status = "success",
              end = Some(new Timestamp(System.currentTimeMillis())))
          else cur)
      } catch {
        case e: Throwable =>
          st.log.synchronized {
            st.log.append(s"run ${sub.exec_uuid} failed: ${e.getMessage}\n"); () }
          // status is AUTHORITATIVE (r9 advice): abort() stamps
          // "aborted" before it cancels, and this update only fires
          // while the status is still "running" — so reaching here
          // un-stamped means nobody aborted and the run FAILED. The
          // old `getMessage.contains("cancelled")` heuristic let an
          // infrastructure failure that merely mentioned the word
          // stamp itself "aborted" while the closure posted a failure
          // event — jobs endpoint and lifecycle log disagreeing about
          // the same run.
          runs.computeIfPresent(sub.exec_uuid, (_, cur) =>
            if (cur.status == "running")
              cur.copy(status = "failed",
                end = Some(new Timestamp(System.currentTimeMillis())))
            else cur)
      } finally { spark.sparkContext.clearJobGroup(); evictTerminal() }
      ()
    }
    ()
  }

  // resolveIds / evictTerminal / logs / MaxTerminalRuns come from
  // [[RunRegistry]] (one definition for both in-process backends)

  def abort(execUuid: String): Unit = resolveIds(execUuid).foreach { id =>
    // stamp BEFORE cancelling: the job-group interrupt can reach the
    // running closure's catch block immediately, and that block
    // consults [[wasAborted]] to decide whether to suppress its
    // failure callback (r8 advice: interrupt-status inference
    // misclassified task-reaper/timeout interrupts as user aborts) —
    // the stamp must already be visible when the interrupt lands
    runs.computeIfPresent(id, (_, st) =>
      if (st.status == "running")
        st.copy(status = "aborted",
          end = Some(new Timestamp(System.currentTimeMillis())))
      else st)
    spark.sparkContext.cancelJobGroup(id)
    evictTerminal()
  }

  override def wasAborted(execUuid: String): Boolean = wasAbortedIn(execUuid)

  override def rows(spark: SparkSession): Seq[RunningJob] = {
    import scala.jdk.CollectionConverters._
    runs.asScala.map { case (id, st) =>
      RunningJob(id, st.sub.pipeline_uuid, name,
        trackingIdOf(st), st.status, Some(st.start), st.end)
    }.toSeq
  }

  def jobs(spark: SparkSession): Dataset[RunningJob] =
    spark.createDataset(rows(spark))(Encoders.product[RunningJob])
}

/** E1/E2 — engine registry + pushed-down job filtering across engines. */
final class EngineManager(engines: Seq[EngineBackend]) {
  private val byName = engines.map(e => e.name -> e).toMap

  /** Resolve a backend by registry name (the facade's `engine_name`
    * request parameter, `facade.py:91,96`). */
  def backend(engineName: String): EngineBackend =
    byName.getOrElse(engineName,
      throw new IllegalArgumentException(s"unknown engine: $engineName"))

  def submit(engineName: String, sub: Submission, job: EngineJob): Unit =
    byName.getOrElse(engineName,
      throw new IllegalArgumentException(s"unknown engine: $engineName")).submit(sub, job)

  /** Convenience for Spark-closure runs (the common case in-cluster). */
  def submit(engineName: String, sub: Submission, body: SparkSession => Unit): Unit =
    submit(engineName, sub, EngineJob.SparkClosure(body))

  def abort(execUuid: String): Unit = engines.foreach(_.abort(execUuid))

  /** True if ANY backend recorded a user abort for the run (the abort
    * endpoint fans out to every backend the same way). */
  def wasAborted(execUuid: String): Boolean = engines.exists(_.wasAborted(execUuid))

  /** Every engine's live rows — the service's concurrency-gate
    * refresh. Engine-state-sized (one row per tracked run), no
    * filter/limit: this is the gate's input, not an API page. */
  def allRows(spark: SparkSession): Seq[RunningJob] = engines.flatMap(_.rows(spark))

  /** E2 — the running page across engines: status and pipeline filter,
    * `exec_uuid` order (nulls first) and limit, on the driver (the
    * reference applied these client-side too). */
  def filteredRows(spark: SparkSession,
                   statuses: Seq[String] = Nil,
                   pipelineUuid: Option[String] = None,
                   limit: Int = 10): Seq[RunningJob] =
    allRows(spark)
      .filter(j => (statuses.isEmpty || statuses.contains(j.engine_status)) &&
        pipelineUuid.forall(_ == j.pipeline_uuid))
      .sortBy(j => Option(j.exec_uuid))
      .take(limit)
}
