package graft.orchestration

import java.sql.Timestamp

/** Pure (Spark-free) core of the incubation/dispatch semantics — the
  * reference's D13/D14 + S2/S3 dataflow
  * (`/root/reference/src/kalytical/core/data_provider.py:200-230`,
  * `job_culler.py:17-44`, `dispatcher.py:31-86`) as a referentially
  * transparent state machine.
  *
  * One instance of [[PipelineState]] is the per-`pipeline_uuid` keyed
  * state; the transition functions run inside [[Dispatcher.step]]'s
  * per-key fold, the one dispatcher every ingress (HTTP, MQ, culler
  * tick) reaches. The reference's Mongo document mutex
  * (`data_provider.py:157-198`) is unnecessary: per-key serialization
  * is inherent to keyed state.
  *
  * `now` is always an explicit parameter (SURVEY §7 risk 2 —
  * deterministic tests).
  */
object StateMachine {

  /** Static per-pipeline metadata needed by transitions (subset of
    * PipelineDef). */
  final case class Meta(
      triggersOp: Option[String], // 'all' | 'any' | None
      deps: Seq[String],
      retryMax: Int,
      concurrency: Boolean)

  /** One deferred run (reference `IncubatingPipelineModel`):
    * `triggers(dep)` is "waiting" or the satisfying exec_uuid. */
  final case class WaitRow(
      objId: String,
      createTime: Timestamp,
      createdByUuid: Option[String],
      retryCount: Int,
      reason: String, // 'dependencies' | 'concurrency'
      triggers: Map[String, String])

  object WaitRow {
    val Waiting = "waiting"
  }

  /** Keyed state: the incubating rows for one pipeline, oldest-first
    * ordering maintained on (createTime, objId). */
  final case class PipelineState(rows: List[WaitRow]) {
    def sorted: List[WaitRow] =
      rows.sortBy(r => (r.createTime.getTime, r.objId))
  }
  val emptyState: PipelineState = PipelineState(Nil)

  /** An upstream-success notification routed to this pipeline:
    * `dep` succeeded with `execUuid` (reference D14 input). */
  final case class DepSatisfied(
      dep: String,
      execUuid: String,
      eventId: Long,
      eventTime: Timestamp)

  /** A released run: emit to the submit path. `objId` carries the
    * released row's stable identity so downstream exec ids never
    * collide across culler passes (they are derived from
    * `objId` + release time, not a per-step counter). */
  final case class Release(
      reason: String, // 'dependencies' | 'concurrency-requeue'
      createdByUuid: Option[String],
      retryCount: Int,
      sources: Map[String, String], // dep -> exec_uuid
      objId: String)

  /** D14 intended semantics (SURVEY §8.13): ensure at least one row is
    * waiting for `dep` (create one with ALL deps waiting if none is),
    * then satisfy `dep` on the OLDEST row still waiting on it.
    *
    * objId is derived deterministically from the triggering event so
    * replays converge (deviation from Mongo ObjectId, §1.3).
    */
  /** `key` = the pipeline this state belongs to — part of the minted
    * obj_id (r10 review: an id from the event alone collides when ONE
    * success event fans out to several 'all'-children: each child's
    * fresh WaitRow got the same `inc-<eventId>` id, and the GLOBALLY
    * obj_id-keyed point ops (delete/update incubation) then hit every
    * sibling's dep-wait state at once). Defaulted for the single-
    * pipeline unit specs.
    *
    * STATE-FORMAT BREAK (r10 advice): the r10 change from
    * `inc-<eventId>` to `inc-<eventId>-<key>` (also Dispatcher's
    * concurrency rows) is not readable-compatible with incubation
    * state persisted by earlier builds — replaying over old-format
    * rows mints fresh non-matching ids (duplicate WaitRows; point
    * delete/update by the old id misses). Persisted incubation state
    * MUST be flushed (D17 `/pipeline_incubation/flush`) when upgrading
    * across r10; the rows are transient wait-state, so a flush loses
    * only in-flight waits, which the next trigger event re-mints. */
  def applyDepSatisfied(state: PipelineState, meta: Meta, ev: DepSatisfied,
      key: String = "p"): PipelineState = {
    val hasWaitingForDep = state.rows.exists(r =>
      r.reason == "dependencies" && r.triggers.get(ev.dep).contains(WaitRow.Waiting))
    val withRow =
      if (hasWaitingForDep) state
      else {
        val fresh = WaitRow(
          objId = f"inc-${ev.eventId}%012d-$key",
          createTime = ev.eventTime,
          createdByUuid = Some(ev.execUuid),
          retryCount = 0,
          reason = "dependencies",
          triggers = meta.deps.map(_ -> WaitRow.Waiting).toMap)
        PipelineState(fresh :: state.rows)
      }
    val oldest = withRow.sorted.find(r =>
      r.reason == "dependencies" && r.triggers.get(ev.dep).contains(WaitRow.Waiting))
    oldest match {
      case None => withRow
      case Some(row) =>
        val updated = row.copy(triggers = row.triggers.updated(ev.dep, ev.execUuid))
        PipelineState(withRow.rows.map(r => if (r.objId == row.objId) updated else r))
    }
  }

  /** Concurrency deferral (D13): record a deferred run. */
  def defer(state: PipelineState, objId: String, now: Timestamp,
            createdBy: Option[String], retryCount: Int): PipelineState =
    PipelineState(WaitRow(objId, now, createdBy, retryCount, "concurrency", Map.empty) :: state.rows)

  /** Culler pass (S2, `job_culler.py:17-44`, intended semantics):
    *  (i)  reason=concurrency older than debounce → release with
    *       retry+1 AND the row's recorded sources (the reference passes
    *       `job.source_uuids`, `job_culler.py:26` — releasing with an
    *       empty map launched lineage-less runs after every deferral,
    *       r7 review)
    *  (ii) reason=dependencies with no dep still waiting → release with
    *       sources = the recorded exec uuids
    *  (iii) anything older than ageOut → drop silently
    * Returns (state', releases, droppedObjIds).
    */
  def cull(state: PipelineState, now: Timestamp,
           debounceSeconds: Long, ageOutSeconds: Long): (PipelineState, List[Release], List[String]) = {
    val nowMs = now.getTime
    var releases = List.empty[Release]
    var dropped = List.empty[String]
    val kept = state.sorted.filter { r =>
      val ageSec = (nowMs - r.createTime.getTime) / 1000
      if (ageSec > ageOutSeconds) { dropped ::= r.objId; false }
      else if (r.reason == "concurrency" && ageSec > debounceSeconds) {
        releases ::= Release("concurrency-requeue", r.createdByUuid, r.retryCount + 1, r.triggers, r.objId)
        false
      } else if (r.reason == "dependencies" && r.triggers.nonEmpty &&
                 !r.triggers.values.exists(_ == WaitRow.Waiting)) {
        releases ::= Release("dependencies", r.createdByUuid, r.retryCount, r.triggers, r.objId)
        false
      } else true
    }
    (PipelineState(kept), releases.reverse, dropped.reverse)
  }

  /** Fold a batch of ordered dep-satisfied events into the state, then
    * cull once at `now` — one key's share of a [[Dispatcher.step]]. */
  def stepKey(state: PipelineState, meta: Meta, events: Seq[DepSatisfied], now: Timestamp,
              debounceSeconds: Long, ageOutSeconds: Long,
              key: String = "p"): (PipelineState, List[Release], List[String]) = {
    val afterEvents = events.sortBy(_.eventId).foldLeft(state)((s, e) => applyDepSatisfied(s, meta, e, key))
    cull(afterEvents, now, debounceSeconds, ageOutSeconds)
  }

  /** P2 trigger rule (`dispatcher.py:41-45`): may the child run
    * immediately on a single upstream success? */
  def runnableNow(meta: Meta): Boolean =
    meta.triggersOp.isEmpty || meta.triggersOp.contains("any") || meta.deps.size == 1

  /** P3 retry gate (`dispatcher.py:48-58`). */
  def shouldRetry(retryCount: Int, retryMax: Int): Boolean = retryCount < retryMax
}
