package graft.orchestration

import scala.collection.concurrent.TrieMap

/** External-scheduler provider — the reference's `K8sCronProvider`
  * (`/root/reference/src/kalytical/core/ext_sched.py:11-76`), which
  * materializes each scheduled pipeline as a K8s CronJob named
  * `kalytical-api-trigger-<uuid>` that calls back into the dispatcher.
  *
  * In the Spark rebuild the TICK side is in-engine ([[Cron.fire]]
  * synthesizes origination events, S4) — but the provider SURFACE is
  * kept so deployments that want external firing (K8s CronJob, EventBridge,
  * Airflow) plug in behind the same trait, and so the catalog's
  * `scheduler_tracking_id` lifecycle (create on schedule, recreate on
  * change, delete on unschedule/delete — `data_provider.py:69-70`)
  * has a real counterpart to reconcile against.
  */
trait CronProvider {
  /** Register (or re-register) the schedule; returns the tracking id.
    * Conflict semantics follow `ext_sched.py:48-52`: an existing job
    * with the same name is deleted and re-created, never duplicated. */
  def createCronJob(schedule: String, pipelineUuid: String): String
  /** Deregister; deleting a job that is "long gone" is tolerated
    * (the 404 path, `ext_sched.py:71-74`). */
  def deleteCronJob(jobName: String): Unit
  /** Registered (jobName, schedule) snapshot. */
  def listCronJobs(): Map[String, String]
}

/** In-process registry implementation: the K8s API-server state stood
  * in by a concurrent map, same naming and conflict/absence semantics.
  * A real K8s implementation swaps the map operations for
  * `create/delete/list_namespaced_cron_job` calls. */
final class RegistryCronProvider extends CronProvider {
  private val jobs = TrieMap.empty[String, String]

  def createCronJob(schedule: String, pipelineUuid: String): String = {
    Cron.parse(schedule) // validate — throws on malformed expressions before registering
    val jobName = s"graft-cron-$pipelineUuid" // 'kalytical-api-trigger-<uuid>', ext_sched.py:23
    jobs.put(jobName, schedule) // overwrite = the delete+recreate 409 path
    jobName
  }

  def deleteCronJob(jobName: String): Unit = {
    jobs.remove(jobName) // absent -> tolerated (404 path)
    ()
  }

  def listCronJobs(): Map[String, String] = jobs.toMap
}
