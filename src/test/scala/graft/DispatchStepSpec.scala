package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Encoders

import graft.api.GraftApi
import graft.meta.Fixtures
import graft.model._
import graft.orchestration.{Catalog, Dispatcher, EngineManager, LocalSparkEngine, StateMachine}
import graft.orchestration.Dispatcher.IncubRow

/** The driver-side dispatch step: it starts no Spark job over local
  * inputs, and its outputs keep the dispatcher's invariants over seeded
  * random batches on the fixture catalog. */
class DispatchStepSpec extends AnyFunSuite {
  import DispatchStepSpec._

  private lazy val spark = SparkSuite.spark
  private val now = Fixtures.NOW

  test("a dispatch step over a local catalog, running set and incubation state starts no Spark job") {
    val api = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)), Fixtures.edgesDS(spark),
      new EngineManager(Seq(new LocalSparkEngine(spark))))
    val running = spark.createDataset(Fixtures.running)(Encoders.product[RunningJob])
    val incub = spark.createDataset(fixtureIncubRows)(Encoders.product[IncubRow])
    def ev(id: Long, subtype: String, p: String, retry: Int = 0) =
      LifecycleEvent(id, "job_exec_update", subtype, p, s"exec-$id", now, now, retry,
        disable_downstream = false)
    // every routing branch: origination (known + unknown), retry,
    // dead letter, fan-out to 'any' and 'all' children, a failure that
    // drops its own exec from the gate, culler releases and age-outs
    val events = Seq(ev(1, "origination", "ingest-part"), ev(2, "origination", "no-such"),
      ev(3, "failure", "flaky-export", 1), ev(4, "failure", "ingest-orders"),
      ev(5, "success", "report-daily"), ev(6, "success", "clean-orders"),
      ev(7, "failure", "stream-metrics").copy(exec_uuid = "exec-r01"))
    val jobs = new AtomicInteger()
    val group = "dispatch-step-jobs"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    Bench.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "dispatch step")
    val (subs, deferred, kept) =
      try {
        val res = api.dispatch(events, running, incub, now)
        (res.submissions.collect(), res.deferred.collect(), res.newIncubating.collect())
      } finally {
        spark.sparkContext.clearJobGroup()
        Bench.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs in one dispatch step")
    // the step did route every branch
    assert(subs.map(_.pipeline_uuid).toSet.contains("ingest-part"))
    assert(subs.exists(s => s.pipeline_uuid == "flaky-export" && s.retry_count == 2))
    assert(deferred.nonEmpty && kept.nonEmpty)
  }

  test("property: over 200 seeded batches every candidate lands once, the gate holds, obj_ids are conserved") {
    (0 until 200).foreach { seed =>
      val in = inputs(seed)
      val r = stepOf(in)
      val subs = r.submissions
      val deferred = r.deferred
      val kept = r.newIncubating
      val dropped = r.dropped.map(_.obj_id)
      val ctx = s"seed $seed"

      // exec ids are unique
      assert(subs.map(_.exec_uuid).distinct.size == subs.size, s"$ctx: duplicate exec ids")

      // every candidate lands in exactly one of submissions or deferred:
      // the non-release ones are keyed by (pipeline, event id), releases
      // by the released row's obj_id
      val (subRel, subKeys) = subs.partitionMap { s =>
        val tag = s"exec-${s.pipeline_uuid}-rel-"
        if (s.exec_uuid.startsWith(tag)) {
          val rest = s.exec_uuid.stripPrefix(tag)
          Left(rest.substring(0, rest.lastIndexOf('-')))
        } else Right(s.pipeline_uuid -> s.exec_uuid.stripPrefix(s"exec-${s.pipeline_uuid}-").toLong)
      }
      val (defKeys, defRel) = deferred.partitionMap { d =>
        if (d.obj_id.startsWith("inc-c-"))
          Left(d.pipeline_uuid -> d.obj_id.stripPrefix("inc-c-").stripSuffix(s"-${d.pipeline_uuid}").toLong)
        else Right(d.obj_id)
      }
      val landed = subKeys ++ defKeys
      assert(landed.distinct.size == landed.size, s"$ctx: a candidate landed twice: $landed")
      assert(landed.toSet == expectedCandidates(in), s"$ctx: candidates lost or invented")
      val released = subRel ++ defRel
      assert(released.distinct.size == released.size, s"$ctx: a row released twice")

      // a concurrency=false pipeline submits at most once, never while live
      val live = in.running.filter(j => Set("running", "waiting", "pending")(j.engine_status))
        .map(_.pipeline_uuid).toSet
      subs.filterNot(s => concurrent(s.pipeline_uuid)).groupBy(_.pipeline_uuid).foreach { case (p, ss) =>
        assert(ss.size == 1, s"$ctx: $p submitted ${ss.size} times")
        assert(!live(p), s"$ctx: $p submitted while live")
      }

      // obj_ids: input + minted = kept ⊎ released ⊎ dropped
      val keptIds = kept.map(_.obj_id)
      val out = keptIds ++ released ++ dropped
      assert(out.distinct.size == out.size, s"$ctx: an obj_id is in two outcomes")
      val inIds = in.incubating.map(_.obj_id).toSet
      assert(inIds.subsetOf(out.toSet), s"$ctx: input rows vanished: ${inIds -- out}")
      assert((out.toSet -- inIds).subsetOf(mintable(in)), s"$ctx: unexpected obj_ids ${out.toSet -- inIds}")
      // and deferred rows are fresh concurrency waits
      assert(deferred.forall(d => d.reason == "concurrency" && d.create_time == now), ctx)
    }
  }
}

object DispatchStepSpec {
  private val now = Fixtures.NOW
  private val metas = Dispatcher.metaMap(Fixtures.defs, Fixtures.edges)
  def concurrent(p: String): Boolean = metas.get(p).exists(_.concurrency)

  /** One seeded dispatcher input over the fixture catalog. */
  final case class Inputs(running: Seq[RunningJob], incubating: Seq[IncubRow],
      events: Seq[LifecycleEvent])

  def fixtureIncubRows: Seq[IncubRow] = {
    val byObj = Fixtures.incubatingTriggers.groupBy(_.obj_id)
    Fixtures.incubating.map(i => IncubRow(i.pipeline_uuid, i.obj_id, i.create_time,
      i.created_by_uuid, i.reason, i.retry_count,
      byObj.getOrElse(i.obj_id, Nil).map(t => t.trigger_uuid -> t.status).toMap))
  }

  def inputs(seed: Int): Inputs = {
    val rnd = new scala.util.Random(seed)
    val pipelines = Fixtures.defs.map(_.pipeline_uuid)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def somePipeline = if (rnd.nextInt(10) == 0) s"unknown-${rnd.nextInt(3)}" else pick(pipelines)
    val statuses = Seq("running", "waiting", "pending", "success", "failed", "aborted")
    val running = Seq.tabulate(rnd.nextInt(8)) { i =>
      RunningJob(s"exec-run-$i", somePipeline, "spark-local", s"t$i", pick(statuses), None, None)
    }
    // ages straddle the debounce (300 s) and the age-out (86400 s)
    val ages = Seq(5L, 299L, 301L, 600L, 86399L, 86401L, 90000L)
    val incubating = Seq.tabulate(rnd.nextInt(8)) { i =>
      val p = somePipeline
      val created = new Timestamp(now.getTime - pick(ages) * 1000L)
      if (rnd.nextBoolean()) {
        val deps = metas.get(p).map(_.deps).getOrElse(Seq("dep-x"))
        IncubRow(p, s"obj-$i", created, Some(s"exec-src-$i"), "dependencies", rnd.nextInt(3),
          deps.map(d => d -> (if (rnd.nextInt(3) == 0) s"exec-$d-$i" else StateMachine.WaitRow.Waiting)).toMap)
      } else
        IncubRow(p, s"obj-$i", created, None, "concurrency", rnd.nextInt(3),
          if (rnd.nextBoolean()) Map.empty else Map(pick(pipelines) -> s"exec-src-$i"))
    }
    val subtypes = Seq("origination", "success", "failure", "running", "submitted")
    val events = Seq.tabulate(rnd.nextInt(10)) { i =>
      val p = somePipeline
      val t = new Timestamp(now.getTime - rnd.nextInt(600) * 1000L)
      val exec = if (running.nonEmpty && rnd.nextInt(4) == 0) pick(running).exec_uuid else s"exec-ev-$i"
      LifecycleEvent(100L + 3 * i + rnd.nextInt(3), if (rnd.nextInt(12) == 0) "heartbeat" else "job_exec_update",
        pick(subtypes), p, exec, t, t, rnd.nextInt(4), disable_downstream = rnd.nextInt(5) == 0)
    }
    Inputs(running, incubating, events)
  }

  private val catalog = Catalog(Fixtures.defs, Fixtures.edges)

  def stepOf(in: Inputs): Dispatcher.Step =
    Dispatcher.step(catalog, in.running, in.incubating, in.events,
      now, Fixtures.DebounceSeconds, Fixtures.AgeOutSeconds)

  private def routed(in: Inputs, subtype: String): Seq[LifecycleEvent] =
    in.events.filter(e => e.event_type == "job_exec_update" && e.event_subtype == subtype)

  private def children(e: LifecycleEvent): Seq[String] =
    if (e.disable_downstream) Nil
    else Fixtures.edges.filter(_.trigger_uuid == e.pipeline_uuid).map(_.pipeline_uuid)

  /** The non-release run candidates, (pipeline, event id): known
    * originations, failures under their retry_max, and fan-out to
    * known children that run on one upstream success. */
  def expectedCandidates(in: Inputs): Set[(String, Long)] = {
    val origins = routed(in, "origination").filter(e => metas.contains(e.pipeline_uuid))
    val retries = routed(in, "failure").filter(e =>
      metas.get(e.pipeline_uuid).exists(m => e.retry_count < m.retryMax))
    val fanout = routed(in, "success").flatMap(e => children(e)
      .filter(c => metas.get(c).exists(StateMachine.runnableNow)).map(_ -> e.event_id))
    ((origins ++ retries).map(e => e.pipeline_uuid -> e.event_id) ++ fanout).toSet
  }

  /** obj_ids a step may mint: one dependency wait per success event and
    * 'all' child. */
  def mintable(in: Inputs): Set[String] =
    routed(in, "success").flatMap(e => children(e)
      .filter(c => metas.get(c).exists(m => !StateMachine.runnableNow(m)))
      .map(c => f"inc-${e.event_id}%012d-$c")).toSet
}
