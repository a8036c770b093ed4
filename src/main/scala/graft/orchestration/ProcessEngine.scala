package graft.orchestration

import java.sql.Timestamp

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{RunningJob, Submission}

/** Process-per-run backend — the reference's `K8sJobEngine`
  * (`/root/reference/src/kalytical/core/engine.py:96-169`) with an OS
  * subprocess standing in for the pod: one isolated process per
  * submission, the run context passed through the environment exactly
  * as the pod spec does (`PIPELINE_UUID`/`SOURCE_UUID`/`EXEC_UUID`/
  * `RETRY_COUNT` env vars, `engine.py:130-143`), abort = kill the
  * process (`delete_namespaced_pod`, `engine.py:162-169`), logs = the
  * captured stdout/stderr byte-capped like `limit_bytes`
  * (`engine.py:152-157`).
  *
  * Proves the [[EngineBackend]] trait is not local-Spark-only: the
  * OrchestrationSpec lifecycle (submit/status/logs/abort, E1–E8) runs
  * green against both backends. A real K8s backend swaps ProcessBuilder
  * for a pod create and waitFor for a pod watch — the registry, status
  * vocabulary and byte-capped logs stay identical.
  */
final class ProcessEngine extends EngineBackend with RunRegistry {
  val name = "process"

  protected case class RunState(sub: Submission, status: String,
      start: Timestamp, end: Option[Timestamp], log: StringBuilder,
      proc: Option[Process], trackingId: String)
  protected type St = RunState
  protected def statusOf(st: RunState): String = st.status
  protected def trackingIdOf(st: RunState): String = st.trackingId
  protected def startOf(st: RunState): Timestamp = st.start
  protected def endOf(st: RunState): Option[Timestamp] = st.end
  protected def logBufOf(st: RunState): StringBuilder = st.log
  private implicit val ec: ExecutionContext = ExecutionContext.global

  def submit(sub: Submission, job: EngineJob): Unit = {
    val cmd = job match {
      case c: EngineJob.Command => c
      case other =>
        throw new IllegalArgumentException(
          s"$name hosts OS commands, not Spark closures (got $other); use LocalSparkEngine")
    }
    // the pod name: '-'.join(exec_uuid, pipeline_uuid, retry) (engine.py:108-109)
    val trackingId = s"${sub.exec_uuid}-${sub.pipeline_uuid}-${sub.retry_count}"
    val pb = new ProcessBuilder(cmd.argv: _*).redirectErrorStream(true)
    val env = pb.environment()
    cmd.env.foreach { case (k, v) => env.put(k, v) }
    // the run-context env block of the pod spec (engine.py:130-143);
    // MQ_CALLBACK_URL/API_ENDPOINT equivalents come via cmd.env when a
    // deployment needs the callback loop
    env.put("PIPELINE_UUID", sub.pipeline_uuid)
    env.put("SOURCE_UUID", sub.source_uuids.map { case (k, v) => s"$k=$v" }.mkString(","))
    env.put("EXEC_UUID", sub.exec_uuid)
    env.put("RETRY_COUNT", sub.retry_count.toString)

    val log = new StringBuilder
    val proc = pb.start()
    runs.put(sub.exec_uuid, RunState(sub, "running",
      new Timestamp(System.currentTimeMillis()), None, log, Some(proc), trackingId))
    Future {
      // retention cap: keep the newest ~1 MiB per run so a chatty
      // process cannot grow the driver-side buffer unboundedly (E5 only
      // ever serves a byte-capped tail anyway)
      val retain = 1 << 20
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
      try out.getLines().foreach { l =>
        log.synchronized {
          log.append(l).append('\n')
          if (log.length > retain) log.delete(0, log.length - retain)
        }
      }
      finally out.close()
      val code = proc.waitFor()
      // atomic running→terminal transition (ConcurrentHashMap bin lock):
      // an abort() landing between a plain get and put would otherwise be
      // overwritten by the natural exit stamping 'failed'/'success'
      runs.computeIfPresent(sub.exec_uuid, (_, st) =>
        if (st.status == "running") {
          val status = if (code == 0) "success" else "failed"
          log.synchronized { log.append(s"run ${sub.exec_uuid} exited code=$code\n") }
          st.copy(status = status,
            end = Some(new Timestamp(System.currentTimeMillis())), proc = None)
        } else st)
      // evict on the NATURAL-exit path too (r12 review: only abort()
      // evicted, so a service whose processes exit normally — the
      // common case — grew the terminal ledger and its 1 MiB log
      // buffers without bound; LocalSparkEngine's Future has had this
      // call in its finally since the r10 leak fix)
      evictTerminal()
      ()
    }
    ()
  }

  // resolveIds / evictTerminal / logs / MaxTerminalRuns come from
  // [[RunRegistry]] (one definition for both in-process backends —
  // their hand-kept copies had already diverged, see the trait doc)

  def abort(execUuid: String): Unit = resolveIds(execUuid).foreach { id =>
    // same atomic transition on the abort side; the kill happens outside
    // the map lock (destroyForcibly is idempotent on an exited process)
    var toKill: Option[Process] = None
    runs.computeIfPresent(id, (_, st) =>
      if (st.status == "running") {
        toKill = st.proc
        st.copy(status = "aborted",
          end = Some(new Timestamp(System.currentTimeMillis())), proc = None)
      } else st)
    toKill.foreach(_.destroyForcibly())
    evictTerminal()
  }

  override def wasAborted(execUuid: String): Boolean = wasAbortedIn(execUuid)

  override def rows(spark: SparkSession): Seq[RunningJob] = {
    import scala.jdk.CollectionConverters._
    runs.asScala.map { case (id, st) =>
      RunningJob(id, st.sub.pipeline_uuid, name, st.trackingId, st.status,
        Some(st.start), st.end)
    }.toSeq
  }

  def jobs(spark: SparkSession): Dataset[RunningJob] =
    spark.createDataset(rows(spark))(EngineBackend.RunningJobEnc)
}

object ProcessEngine {
  /** The reference's engine-args unmarshalling (`marshall_k8s_pod`,
    * `engine.py:110-118`): `pipeline_command` + `pipeline_args` from the
    * pipeline's `engine_args` JSON, with defaults when absent. Parsed
    * with Jackson (already on Spark's classpath) — driver-side, one
    * tiny document; the data plane parses engine_args with `from_json`. */
  def commandFromEngineArgs(engineArgsJson: String,
                            defaultCommand: Seq[String] = Seq("/bin/sh", "-c"),
                            defaultArgs: Seq[String] = Nil): EngineJob.Command = {
    import scala.jdk.CollectionConverters._
    import scala.util.Try
    val root = Try(new com.fasterxml.jackson.databind.ObjectMapper().readTree(engineArgsJson))
    def arr(key: String): Option[Seq[String]] = root.toOption
      .flatMap(n => Option(n.get(key)))
      .filter(_.isArray)
      .map(_.elements().asScala.map(_.asText()).toSeq)
    val command = arr("pipeline_command").getOrElse(defaultCommand)
    val args = arr("pipeline_args").getOrElse(defaultArgs)
    EngineJob.Command(command ++ args)
  }
}
