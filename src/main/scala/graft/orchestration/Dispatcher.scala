package graft.orchestration

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.model._
import graft.orchestration.StateMachine._

/** Batch dispatcher: the reference's entire event control flow
  * (`/root/reference/src/kalytical/core/dispatcher.py:15-96` +
  * `job_culler.py:17-44`) as one referentially transparent function
  * `step(catalog, runtime state, events, now) → (state', outputs)`
  * (SURVEY §7 v2).
  *
  * Dataflow, one driver-side fold per event batch:
  *  1. Route events by subtype (P1) — `job_exec_update` only.
  *  2. origination → known/unknown split against the catalog (P4).
  *  3. failure → retry vs dead-letter via the retry gate (P3).
  *  4. success → fan-out over the child edges of the succeeded
  *     pipeline; 'any'/single-dep children run now, 'all' children
  *     become dep-satisfied notifications (P2).
  *  5. Dep-satisfied notifications meet the existing incubation state
  *     per child pipeline; [[StateMachine.stepKey]] folds them
  *     oldest-first and the culler releases/drops (D13/D14/S2).
  *  6. All run candidates pass the concurrency gate (P5/P6): a
  *     non-concurrent pipeline that is live, or that already had an
  *     earlier candidate in this step, defers.
  *
  * Scale: every input is bounded by the catalog, the live state or the
  * batch (the reference's regime is 10²–10⁴ pipelines, and the
  * reference itself handles an event with a few document lookups), so
  * the step is a fold over plain Scala values: the catalog ([[Catalog]],
  * indexed once per catalog value), the running rows, the incubation
  * rows and the batch. Planning a Spark query costs more than the work
  * of one event batch. The Spark statement of the same rules stays in
  * the oracle-checked query registry (`k07_concurrency_gate`,
  * `k18_deps_satisfied`).
  */
object Dispatcher {

  /** Flat row form of incubation state (joins [[Incubating]] with its
    * trigger map) used as the dispatcher's state relation. */
  final case class IncubRow(
      pipeline_uuid: String, obj_id: String, create_time: Timestamp,
      created_by_uuid: Option[String], reason: String, retry_count: Int,
      triggers: Map[String, String])

  /** A run candidate before the concurrency gate. `exec_tag` (set only
    * for culler releases) carries a stable identity derived from the
    * released row's objId + release time, so release exec ids never
    * collide across step() invocations. */
  final case class Candidate(
      pipeline_uuid: String, origin: String, retry_count: Int,
      source_uuids: Map[String, String], event_id: Long,
      exec_tag: Option[String] = None)

  /** Row shapes of the step's DataFrame outputs. */
  final case class DeadLetter(event_id: Long, pipeline_uuid: String, exec_uuid: String,
      retry_count: Int, retry_max: Int)
  final case class Warning(event_id: Long, pipeline_uuid: String, warning: String)
  final case class Dropped(pipeline_uuid: String, obj_id: String)

  /** One step's outputs as driver values — the fold's result. */
  final case class Step(
      submissions: Vector[Submission],
      deferred: Vector[IncubRow],
      newIncubating: Vector[IncubRow],
      deadLetters: Vector[DeadLetter],
      warnings: Vector[Warning],
      dropped: Vector[Dropped]) {
    /** The same outputs as local Datasets (no Spark job to read). */
    def toResult(spark: SparkSession): StepResult = StepResult(
      spark.createDataset(submissions)(Encoders.product[Submission]),
      spark.createDataset(deferred)(Encoders.product[IncubRow]),
      spark.createDataset(newIncubating)(Encoders.product[IncubRow]),
      spark.createDataset(deadLetters)(Encoders.product[DeadLetter]).toDF(),
      spark.createDataset(warnings)(Encoders.product[Warning]).toDF(),
      spark.createDataset(dropped)(Encoders.product[Dropped]).toDF())
  }

  /** One step's outputs, all local Datasets — the Dataset form of
    * [[Step]]. The step holds no cache or broadcast, so `cleanup` has
    * nothing to release; callers may still call it once they are done
    * with the outputs. */
  final case class StepResult(
      submissions: Dataset[Submission],
      deferred: Dataset[IncubRow],
      newIncubating: Dataset[IncubRow],
      deadLetters: DataFrame,
      warnings: DataFrame,
      droppedObjIds: DataFrame,
      cleanup: () => Unit = () => ())

  /** Assemble per-pipeline Meta from the collected defs + edges. */
  def metaMap(defs: Seq[PipelineDef], edges: Seq[PipelineTrigger]): Map[String, Meta] = {
    val depsByChild = edges.groupBy(_.pipeline_uuid)
    defs.map { d =>
      d.pipeline_uuid -> Meta(
        d.triggers_op,
        depsByChild.getOrElse(d.pipeline_uuid, Nil).map(_.trigger_uuid).sorted,
        d.retry_max, d.concurrency)
    }.toMap
  }

  // deterministic exec id for a submission (deviation from the
  // reference's collision-prone 8-char uuid1 truncation, SURVEY §8/P7)
  private def execId(pipeline: String, eventId: Long): String =
    f"exec-$pipeline-$eventId%d"

  /** Recover the incubation obj_id a requeue tag (`rel-<objId>-<ms>`)
    * was minted from — None for non-requeue tags. The ms suffix is the
    * LAST '-'-segment, so obj_ids containing dashes survive. */
  private[orchestration] def requeueBaseObjId(tag: String): Option[String] =
    if (!tag.startsWith("rel-")) None
    else {
      val cut = tag.lastIndexOf('-')
      if (cut > 4 && tag.substring(cut + 1).forall(_.isDigit))
        Some(tag.substring(4, cut))
      else None
    }

  /** Engine statuses of a run that has not ended. */
  private[graft] val Live = Set("running", "waiting", "pending")

  /** The fold: one event batch against the catalog index, the running
    * set and the incubation state. */
  def step(catalog: Catalog,
           running: Seq[RunningJob],
           incubating: Seq[IncubRow],
           events: Seq[LifecycleEvent],
           now: Timestamp,
           debounceSeconds: Long,
           ageOutSeconds: Long): Step = {
    val metas = catalog.metas
    val evs = events.filter(_.event_type == "job_exec_update")
    def ofSubtype(s: String) = evs.filter(_.event_subtype == s)

    // -- P4: origination ---------------------------------------------------
    val (known, unknown) = ofSubtype("origination").partition(e => metas.contains(e.pipeline_uuid))
    val originWarnings = unknown.map(e =>
      Warning(e.event_id, e.pipeline_uuid, "unknown pipeline for origination event"))
    val originCandidates = known.map(e =>
      Candidate(e.pipeline_uuid, "origination", e.retry_count, Map.empty, e.event_id))

    // -- P3: failure → retry or dead-letter --------------------------------
    // a failure of a pipeline with no def has no retry gate: it drops
    val failures = ofSubtype("failure").flatMap(e => metas.get(e.pipeline_uuid).map(e -> _.retryMax))
    val retryCandidates = failures.collect { case (e, max) if shouldRetry(e.retry_count, max) =>
      Candidate(e.pipeline_uuid, "retry", e.retry_count + 1, Map.empty, e.event_id)
    }
    val deadLetters = failures.collect { case (e, max) if !shouldRetry(e.retry_count, max) =>
      DeadLetter(e.event_id, e.pipeline_uuid, e.exec_uuid, e.retry_count, max)
    }

    // -- P2: success fan-out ----------------------------------------------
    // disable_downstream on the event suppresses triggering children
    // (field declared at runtime_models.py:13; intended semantics)
    val fanout = ofSubtype("success").filterNot(_.disable_downstream).flatMap { e =>
      catalog.childEdges.getOrElse(e.pipeline_uuid, Nil).map(t => (e, t.pipeline_uuid, metas.get(t.pipeline_uuid)))
    }
    val fanoutCandidates = fanout.collect { case (e, child, Some(m)) if runnableNow(m) =>
      Candidate(child, "fanout", 0, Map(e.pipeline_uuid -> e.exec_uuid), e.event_id)
    }
    val depSats = fanout.collect { case (e, child, Some(m)) if !runnableNow(m) =>
      child -> DepSatisfied(e.pipeline_uuid, e.exec_uuid, e.event_id, e.event_time)
    }
    // D5 upsert validates edges against defs, but flush (D7) bypasses
    // that guard — so an edge can reference a child with no def. Route
    // such children to warnings instead of failing the whole step.
    val childWarnings = fanout.collect { case (e, child, None) =>
      Warning(e.event_id, child, "unknown child pipeline for success fan-out")
    }

    // -- D13/D14/S2: incubation state per pipeline ------------------------
    val stateByKey = incubating.groupBy(_.pipeline_uuid)
    val satsByKey = depSats.groupBy(_._1)
    val noMeta = Meta(None, Nil, 0, concurrency = false)
    val perKey = (stateByKey.keySet ++ satsByKey.keySet).toSeq.sorted.map { key =>
      val st = PipelineState(stateByKey.getOrElse(key, Nil).map(r =>
        WaitRow(r.obj_id, r.create_time, r.created_by_uuid, r.retry_count, r.reason, r.triggers)).toList)
      val sats = satsByKey.getOrElse(key, Nil).map(_._2)
      (key, stepKey(st, metas.getOrElse(key, noMeta), sats, now, debounceSeconds, ageOutSeconds, key))
    }
    val newIncubating = perKey.flatMap { case (key, (st, _, _)) =>
      st.rows.map(r => IncubRow(key, r.objId, r.createTime, r.createdByUuid, r.reason,
        r.retryCount, r.triggers))
    }
    // a release keeps the released row's stable identity (ADVICE r1: a
    // per-step counter collides across step() invocations)
    val releaseCandidates = perKey.flatMap { case (key, (_, releases, _)) =>
      releases.map(r => Candidate(key, r.reason, r.retryCount, r.sources, -1L,
        exec_tag = Some(s"rel-${r.objId}-${now.getTime}")))
    }
    val dropped = perKey.flatMap { case (key, (_, _, ids)) => ids.map(Dropped(key, _)) }

    // -- P5/P6: concurrency gate ------------------------------------------
    // within-step rank: the reference dispatches sequentially, so of N
    // same-step candidates for a concurrency=false pipeline the FIRST
    // submits (becoming the running instance) and the rest hit the
    // concurrency check and defer — a set-at-once gate that only
    // checked the PRE-step running set submitted all N at once
    // (r7 review). Deterministic order: (event_id, exec_tag), no tag
    // first.
    val live = running.iterator.filter(j => Live(j.engine_status)).map(_.pipeline_uuid).toSet
    val candidates = originCandidates ++ retryCandidates ++ fanoutCandidates ++ releaseCandidates
    val firstOf = candidates.groupBy(_.pipeline_uuid).map { case (p, cs) =>
      p -> cs.minBy(c => (c.event_id, c.exec_tag.getOrElse("")))
    }
    val (runs, blocked) = candidates.partition { c =>
      metas.get(c.pipeline_uuid).exists(_.concurrency) ||
        (!live(c.pipeline_uuid) && (firstOf(c.pipeline_uuid) eq c))
    }

    val submissions = runs.map { c =>
      Submission(c.pipeline_uuid,
        c.exec_tag.map(t => s"exec-${c.pipeline_uuid}-$t").getOrElse(execId(c.pipeline_uuid, c.event_id)),
        c.source_uuids, c.retry_count)
    }
    // deferred rows KEEP their upstream lineage: the culler's
    // concurrency requeue releases with these sources (the reference
    // passes job.source_uuids, job_culler.py:26 — storing Map.empty
    // here launched lineage-less runs after every deferral, r7 review)
    val deferred = blocked.map { c =>
      // the event id alone collides when one success defers several
      // children (r10 review) — the pipeline joins the mint.
      // A re-gated RELEASE keeps the released row's OWN obj_id
      // (r12 review): wrapping its requeue tag minted
      // "inc-c-rel-<oldObjId>-<ms>" — ~30 chars of nesting per
      // debounce cycle, unbounded for a pipeline blocked behind a
      // long run. Reuse is collision-free: the released row left the
      // state in the same step that re-defers it.
      IncubRow(c.pipeline_uuid,
        c.exec_tag.map(t => requeueBaseObjId(t).getOrElse(s"inc-c-$t"))
          .getOrElse(f"inc-c-${c.event_id}%012d-${c.pipeline_uuid}"),
        now, None, "concurrency", c.retry_count, c.source_uuids)
    }

    Step(submissions.toVector, deferred.toVector, newIncubating.toVector,
      deadLetters.toVector, (originWarnings ++ childWarnings).toVector, dropped.toVector)
  }
}
