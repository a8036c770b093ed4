package graft

/** Engine configuration — the keys the reference scatters across its
  * codebase (SURVEY §2.a "Utilities": `utils/config.py` is a 2-line
  * stub but `db_provider`, `mongo_db_addr`,
  * `incubating_job_culling_interval`, `concurrency_debounce_seconds`,
  * `incubating_job_age_out_seconds`, engine settings etc. are
  * referenced throughout) that some code here reads. Collected into one
  * typed object. Storage has no keys: the service's one durable store
  * is the journal under its checkpoint root (replacing mongo_db_addr /
  * db_provider). `GET /sys/config` lists every field.
  */
final case class GraftConfig(
    // dispatcher / culler timing (job_culler.py:12-43)
    cullingIntervalSeconds: Long = 10L,
    concurrencyDebounceSeconds: Long = 300L,
    incubatingJobAgeOutSeconds: Long = 86400L,

    // MQ replay-dedup horizon: how far back the per-poll event-log
    // probe looks for already-applied event_ids. Bounds the probe to
    // recent history (row-group stats skip older files); generous
    // because exceeding it only degrades to at-least-once for that
    // replay, never to loss.
    mqDedupHorizonDays: Long = 7L,

    // engine (engine.py:24 analog)
    defaultEngine: String = "spark-local",

    // event-history paging defaults (facade.py:86-107)
    historyMaxRecords: Int = 20,
    historySinceSeconds: Long = 1000L)

object GraftConfig {
  val default: GraftConfig = GraftConfig()
}
