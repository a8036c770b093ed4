package graft.orchestration

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.orchestration.StateMachine._

/** Batch dispatcher: the reference's entire event control flow
  * (`/root/reference/src/kalytical/core/dispatcher.py:15-96` +
  * `job_culler.py:17-44`) as one referentially transparent function
  * `step(catalog, runtime state, events, now) → (state', outputs)`
  * (SURVEY §7 v2).
  *
  * Dataflow:
  *  1. Route events by subtype (P1) — pure filters.
  *  2. origination → known/unknown split via broadcast anti-join (P4).
  *  3. failure → retry vs dead-letter via retry-gate predicate (P3).
  *  4. success → fan-out join to children via the exploded edge view;
  *     'any'/single-dep children run now, 'all' children become
  *     dep-satisfied notifications (P2).
  *  5. Dep-satisfied notifications cogroup with existing incubation
  *     state per child pipeline; [[StateMachine]] folds them
  *     oldest-first and the culler releases/drops (D13/D14/S2).
  *  6. All run candidates pass the concurrency gate (P5/P6): semi-join
  *     vs the running set defers non-concurrent pipelines.
  *
  * Scale: defs/edges are broadcast both ways (catalog is small);
  * events-side joins shuffle only the event stream, keyed by pipeline;
  * the keyed cogroup is the same shuffle Structured Streaming's state
  * operator uses. No driver-side loops anywhere.
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

  /** `cleanup` unpersists the step's two internal caches (the shared
    * event frame and the cogrouped state) — call it once every output
    * you need has been materialized (or persisted elsewhere). A caller
    * that never calls it keeps the old behavior: the caches live until
    * session end, which is fine for one-shot steps but leaks one
    * CacheManager entry pair PER DISPATCH in a long-running service
    * (r7 review). Outputs stay correct after cleanup — they lazily
    * recompute from source if re-used. */
  final case class StepResult(
      submissions: Dataset[Submission],
      deferred: Dataset[IncubRow],
      newIncubating: Dataset[IncubRow],
      deadLetters: DataFrame,
      warnings: DataFrame,
      droppedObjIds: DataFrame,
      cleanup: () => Unit = () => ())

  /** Internal row shapes (public: encoder codegen requires accessible
    * classes). */
  final case class DepSat(pipeline_uuid: String, dep: String, exec_uuid: String,
      event_id: Long, event_time: Timestamp)

  /** Assemble per-pipeline Meta from defs + edges (small, collected to
    * a broadcast map — the catalog is operational metadata, never data-
    * plane sized). */
  def metaMap(defs: Dataset[PipelineDef], edges: Dataset[PipelineTrigger]): Map[String, Meta] = {
    val depsByChild = edges.collect().groupBy(_.pipeline_uuid)
    defs.collect().map { d =>
      d.pipeline_uuid -> Meta(
        d.triggers_op,
        depsByChild.getOrElse(d.pipeline_uuid, Array.empty).map(_.trigger_uuid).toSeq.sorted,
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

  def step(spark: SparkSession,
           defs: Dataset[PipelineDef],
           edges: Dataset[PipelineTrigger],
           running: Dataset[RunningJob],
           incubating: Dataset[IncubRow],
           events: Dataset[LifecycleEvent],
           now: Timestamp,
           debounceSeconds: Long = 300L,
           ageOutSeconds: Long = 86400L): StepResult = {
    import spark.implicits._

    // defs+edges collect into a broadcast meta map — sub-ms lookups,
    // right for the reference's catalog regime (10²–10⁴ pipelines)
    val bMetas = spark.sparkContext.broadcast(metaMap(defs, edges))

    val evs = events.where(col("event_type") === "job_exec_update").cache()

    // -- P4: origination ---------------------------------------------------
    val origins = evs.where(col("event_subtype") === "origination")
    val known = origins.join(broadcast(defs.select("pipeline_uuid")), Seq("pipeline_uuid"), "left_semi")
    val originWarnings = origins.join(broadcast(defs.select("pipeline_uuid")), Seq("pipeline_uuid"), "left_anti")
      .select(col("event_id"), col("pipeline_uuid"),
        lit("unknown pipeline for origination event").as("warning"))
    val originCandidates = known.as[LifecycleEvent].map(e =>
      Candidate(e.pipeline_uuid, "origination", e.retry_count, Map.empty, e.event_id))

    // -- P3: failure → retry or dead-letter --------------------------------
    val failures = evs.where(col("event_subtype") === "failure")
      .join(broadcast(defs.select("pipeline_uuid", "retry_max")), Seq("pipeline_uuid"))
    val retryCandidates = failures.where(col("retry_count") < col("retry_max"))
      .select(col("pipeline_uuid"), lit("retry").as("origin"),
        (col("retry_count") + 1).as("retry_count"),
        typedLit(Map.empty[String, String]).as("source_uuids"), col("event_id"),
        lit(null).cast("string").as("exec_tag"))
      .as[Candidate]
    val deadLetters = failures.where(col("retry_count") >= col("retry_max"))
      .select(col("event_id"), col("pipeline_uuid"), col("exec_uuid"),
        col("retry_count"), col("retry_max"))

    // -- P2: success fan-out ----------------------------------------------
    // disable_downstream on the event suppresses triggering children
    // (field declared at runtime_models.py:13; intended semantics)
    val successes = evs.where(col("event_subtype") === "success" && !col("disable_downstream"))
    val edgeView = edges.toDF("child", "trigger_uuid", "op")
    val children = successes
      .join(broadcast(edgeView), successes("pipeline_uuid") === edgeView("trigger_uuid"))
      .select(col("child"), col("trigger_uuid").as("dep0"), col("exec_uuid"),
        col("event_id"), col("event_time"))
      .withColumnRenamed("dep0", "trigger_uuid")
    // D5 upsert validates edges against defs, but flush (D7) bypasses
    // that guard — so an edge can reference a child with no def. Route
    // such children to warnings instead of failing the whole step.
    val childMeta = children.as[(String, String, String, Long, Timestamp)].map {
      case (child, dep, exec, eventId, eventTime) =>
        val m = bMetas.value.get(child)
        (child, dep, exec, eventId, eventTime, m.exists(runnableNow), m.isDefined)
    }.toDF("child", "dep", "exec_uuid", "event_id", "event_time", "run_now", "known")
    val fanoutCandidates = childMeta.where(col("known") && col("run_now"))
      .select(col("child").as("pipeline_uuid"), lit("fanout").as("origin"),
        lit(0).as("retry_count"),
        map(col("dep"), col("exec_uuid")).as("source_uuids"), col("event_id"),
        lit(null).cast("string").as("exec_tag"))
      .as[Candidate]
    val depSats = childMeta.where(col("known") && !col("run_now"))
      .select(col("child").as("pipeline_uuid"), col("dep"), col("exec_uuid"),
        col("event_id"), col("event_time"))
      .as[DepSat]
    val warnings = originWarnings.unionByName(
      childMeta.where(!col("known"))
        .select(col("event_id"), col("child").as("pipeline_uuid"),
          lit("unknown child pipeline for success fan-out").as("warning")))

    // -- D13/D14/S2: incubation state via cogroup --------------------------
    val debounce = debounceSeconds
    val ageOut = ageOutSeconds
    val noMeta = Meta(None, Nil, 0, concurrency = false)
    val stepped = incubating.groupByKey(_.pipeline_uuid).cogroup(depSats.groupByKey(_.pipeline_uuid)) {
      (key, stateIt, evIt) =>
        val st = PipelineState(stateIt.map(r =>
          WaitRow(r.obj_id, r.create_time, r.created_by_uuid, r.retry_count, r.reason, r.triggers)).toList)
        val evsHere = evIt.map(d => DepSatisfied(d.dep, d.exec_uuid, d.event_id, d.event_time)).toSeq
        val (st2, releases, dropped) =
          stepKey(st, bMetas.value.getOrElse(key, noMeta), evsHere, now, debounce, ageOut, key)
        val keptRows = st2.rows.map(r => ("kept", IncubRow(key, r.objId, r.createTime,
          r.createdByUuid, r.reason, r.retryCount, r.triggers), 0L))
        val rel = releases.zipWithIndex.map { case (r, i) =>
          // obj_id keeps the released row's stable identity (ADVICE r1:
          // a per-step counter collides across step() invocations)
          ("release", IncubRow(key, r.objId, now, r.createdByUuid, r.reason, r.retryCount, r.sources), i.toLong)
        }
        val drops = dropped.map(id => ("dropped", IncubRow(key, id, now, None, "", 0, Map.empty), 0L))
        (keptRows ++ rel ++ drops).iterator
    }.cache()

    val newIncubating = stepped.filter(_._1 == "kept").map(_._2)
    val releaseCandidates = stepped.filter(_._1 == "release").map { case (_, r, _) =>
      Candidate(r.pipeline_uuid, r.reason, r.retry_count, r.triggers, -1L,
        exec_tag = Some(s"rel-${r.obj_id}-${now.getTime}"))
    }
    val droppedObjIds = stepped.filter(_._1 == "dropped")
      .map(t => (t._2.pipeline_uuid, t._2.obj_id)).toDF("pipeline_uuid", "obj_id")

    // -- P5/P6: concurrency gate ------------------------------------------
    val allCandidates = originCandidates
      .unionByName(retryCandidates).unionByName(fanoutCandidates)
      .unionByName(releaseCandidates)
    val activeRunning = running
      .where(col("engine_status").isin("running", "waiting", "pending"))
      .select("pipeline_uuid").distinct()
    val concFlags = defs.select(col("pipeline_uuid"), col("concurrency"))
    // within-step rank: the reference dispatches sequentially, so of N
    // same-step candidates for a concurrency=false pipeline the FIRST
    // submits (becoming the running instance) and the rest hit the
    // concurrency check and defer — a set-at-once gate that only
    // semi-joined the PRE-step running set submitted all N at once
    // (r7 review). Deterministic order: (event_id, exec_tag).
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("pipeline_uuid").orderBy(col("event_id"), col("exec_tag"))
    val gated = allCandidates
      .join(broadcast(activeRunning.withColumn("is_running", lit(true))), Seq("pipeline_uuid"), "left")
      .join(broadcast(concFlags), Seq("pipeline_uuid"), "left")
      .na.fill(false, Seq("concurrency"))
      .withColumn("rank_in_step", row_number().over(rankW))
      .withColumn("may_run",
        col("concurrency") || (col("is_running").isNull && col("rank_in_step") === 1))

    val submissions = gated.where(col("may_run"))
      .select(col("pipeline_uuid"), col("retry_count"), col("source_uuids"), col("event_id"),
        col("exec_tag"))
      .as[(String, Int, Map[String, String], Long, Option[String])]
      .map { case (p, rc, src, eid, tag) =>
        Submission(p, tag.map(t => s"exec-$p-$t").getOrElse(execId(p, eid)), src, rc)
      }

    // deferred rows KEEP their upstream lineage: the culler's
    // concurrency requeue releases with these sources (the reference
    // passes job.source_uuids, job_culler.py:26 — storing Map.empty
    // here launched lineage-less runs after every deferral, r7 review)
    val deferred = gated.where(!col("may_run"))
      .select(col("pipeline_uuid"), col("retry_count"), col("event_id"), col("exec_tag"),
        col("source_uuids"))
      .as[(String, Int, Long, Option[String], Map[String, String])]
      .map { case (p, rc, eid, tag, src) =>
        // the event id alone collides when one success defers several
        // children (r10 review) — the pipeline joins the mint.
        // A re-gated RELEASE keeps the released row's OWN obj_id
        // (r12 review): wrapping its requeue tag minted
        // "inc-c-rel-<oldObjId>-<ms>" — ~30 chars of nesting per
        // debounce cycle, unbounded for a pipeline blocked behind a
        // long run. Reuse is collision-free: the released row left the
        // state in the same step that re-defers it.
        IncubRow(p,
          tag.map(t => requeueBaseObjId(t).getOrElse(s"inc-c-$t"))
            .getOrElse(f"inc-c-$eid%012d-$p"),
          now, None, "concurrency", rc, src)
      }

    StepResult(submissions, deferred, newIncubating, deadLetters, warnings, droppedObjIds,
      cleanup = () => {
        evs.unpersist()
        stepped.unpersist()
        // release the per-step meta broadcast's EXECUTOR copies too
        // (r12 review: a service dispatching every few seconds minted
        // one broadcast per step and cleanup never touched it).
        // unpersist, NOT destroy: the standalone facade's lazy state
        // legitimately recomputes through this broadcast after cleanup
        // (applyStep doc) — destroy() would crash that recompute,
        // while unpersist re-ships from the driver on demand and the
        // ContextCleaner reclaims the driver copy once the state plan
        // stops referencing it.
        bMetas.unpersist()
        ()
      })
  }
}
