package graft.bench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.LifecycleEvent

/** A broken run: reported as failed, never as a timing. */
final class BenchFailure(msg: String) extends RuntimeException(msg)

/** Session-wide counters: Spark jobs and tasks, and the MQ ingest
  * query's micro-batches, while the recorder is timed. */
final class SessionCounters(spark: SparkSession, rec: Recorder) {
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  /** (trigger start epoch ms, input rows, batch ms, addBatch ms) */
  val batches = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (rec.timed) { tasks.incrementAndGet(); () }
  })
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (rec.timed && p.numInputRows > 0) {
        val add = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
          p.batchDuration, add))
      }
    }
  })

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

object SessionCounters {
  /** CPU time of the whole process: the service, Spark, JIT and GC threads. */
  def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** The two service workloads.
  *
  *  - `dag_http`: the per-event path. Each step applies one event: every
  *    origination and run callback is POSTed to `/pipeline/dispatcher/event`
  *    by one closed-loop client. The service has no MQ endpoint.
  *  - `mq_backlog`: the batched path. K originations are published to the
  *    broker as one backlog and every run publishes its own callback
  *    there, so each micro-batch step applies many events.
  *
  * A run: `SetUps` set-ups of session, catalog and service (`setup_s` is
  * the median), an untimed probe that takes class loading and first-plan
  * codegen, then a fixed amount of timed work followed by reads of three
  * routes. The traced `mq_backlog` run then stops the
  * service and runs the query set ([[QuerySet]]) on the same session. */
object ServiceWorkload {

  /** Timed units per run: one per `NominalUnitSeconds` of `--seconds`. */
  val NominalUnitSeconds = 30.0
  /** DAG instances per mq_backlog round, and in dag_http's catalog. */
  val K = 16
  val HttpDags = 8
  val PadDefs = 200
  /** Set-ups per run: the first pays session start and JVM class loading
    * (about 10 s); the others are warm re-set-ups of about 0.4 s, so the
    * median of five is a warm one. */
  val SetUps = 5
  /** Each read route is read this many times after a unit. */
  val ReadsPerRoute = 5
  /** Event batches replayed through `GraftApi.dispatch` in the traced run. */
  val ReplaySteps = 3

  def timedUnits(seconds: Int): Int = math.max(1, math.round(seconds / NominalUnitSeconds).toInt)

  def readRoutes(d: Dag): Seq[String] = Seq(
    "/pipeline/dispatcher/running?statuses=success,failed&limit=10",
    "/pipeline/dispatcher/event/history?max_records=20",
    s"/pipeline/config/describe?pipeline_uuid=${d.root}")

  final class Samples {
    val httpAckMs = ArrayBuffer.empty[Double]
    val makespanMs = ArrayBuffer.empty[Double]
    val readMs = ArrayBuffer.empty[Double]
    var wallNs = 0L
    var cpuNs = 0L
  }

  def run(a: Main.Args): Outcome = {
    Thread.currentThread().setName("bench-client")
    val mq = a.workload == "mq_backlog"
    val rnd = new scala.util.Random(a.seed)
    val units = timedUnits(a.seconds)
    val cat = BenchCatalog.build(rnd, if (mq) K else HttpDags, PadDefs)
    val ids = new AtomicLong(1000000000L * (1 + rnd.nextInt(1000)))
    val trace = new Trace
    val rec = new Recorder(cat.dags)
    val cwd = new java.io.File(".").getCanonicalPath

    // ---- set-up, `SetUps` times: session start, catalog load, service start
    // on fresh state; all but the last are torn down, `setup_s` is the median
    val broker = if (mq) Some(new graft.MQBroker) else None
    val setups = (0 until SetUps).map { i =>
      val s0 = System.nanoTime()
      val spark = Main.session()
      val r = new Rig(spark, s"$cwd/state-$i", cat, rec, trace, broker, () => ids.getAndIncrement())
      r.start()
      val ns = System.nanoTime() - s0
      if (i < SetUps - 1) { r.stop(); spark.stop() }
      (spark, r, ns)
    }
    val (spark, rig, _) = setups.last
    val setupS = Stats.median(setups.map(_._3.toDouble)) / 1e9
    System.err.println(s"[graftbench] setups ${setups.map(x => (x._3 / 1e6).round).mkString(",")} ms")
    val counters = new SessionCounters(spark, rec)

    val expected = ArrayBuffer.empty[(String, Int)]
    val problems = ArrayBuffer.empty[String]
    val s = new Samples
    var coldMs = 0.0
    var gcMs = 0L
    var jobs0 = 0L
    val order = rnd.shuffle(cat.dags.toList)
    try {
      // ---- warm-up probe, untimed: one run of a def that triggers nothing
      expected += (cat.leaf -> 0)
      val p0 = System.nanoTime()
      if (mq) {
        rig.publish(rig.origination(cat.leaf))
        rig.rec.awaitApplied(cat.leaf, "success", p0, 120000L)
      } else {
        postOk(rig, Seq(rig.origination(cat.leaf)), None)
        postOk(rig, Seq(rig.callbackEvent(nextCallback(rig, cat.leaf))), None)
      }
      coldMs = (System.nanoTime() - p0) / 1e6

      // ---- timed work ----------------------------------------------------------
      val gc0 = counters.gcMs
      val cpu0 = SessionCounters.processCpuNs
      jobs0 = counters.jobs.get()
      rec.timed = true
      trace.on = a.trace
      val w0 = System.nanoTime()
      for (u <- 0 until units) {
        val ds = if (mq) rnd.shuffle(cat.dags) else Seq(order(u % order.size))
        expected ++= ds.flatMap(_.expectedRuns)
        if (mq) mqRound(rig, ds, s) else httpWave(rig, ds.head, s)
        for (route <- rnd.shuffle(readRoutes(ds.head).flatMap(Seq.fill(ReadsPerRoute)(_)))) {
          val (code, body, q0, q1) = rig.call("GET", route)
          if (code != 200) throw new BenchFailure(s"GET $route -> $code $body")
          s.readMs += (q1 - q0) / 1e6
        }
      }
      s.wallNs = System.nanoTime() - w0
      s.cpuNs = SessionCounters.processCpuNs - cpu0
      gcMs = counters.gcMs - gc0
      System.err.println(s"[graftbench] acks ms ${s.httpAckMs.map(_.round).mkString(",")}")
    } catch {
      case e: BenchFailure => problems += e.getMessage
    }
    rec.timed = false
    trace.on = false
    val jobsTimed = counters.jobs.get() - jobs0

    // ---- correctness: every expected run started exactly once ---------------
    val (lost, dup) = RunCheck.diff(expected.toSeq, rec.observedRuns)
    if (lost.nonEmpty) problems += s"lost runs: ${lost.take(5).mkString(",")}"
    if (dup.nonEmpty) problems += s"duplicated runs: ${dup.take(5).mkString(",")}"
    val dupExec = rec.duplicateExecs
    if (dupExec.nonEmpty) problems += s"exec_uuid submitted twice: ${dupExec.take(5).mkString(",")}"
    val notStarted = rec.submits.asScala.map(_._1).filterNot(rec.starts.containsKey).toSeq
    if (notStarted.nonEmpty) problems += s"runs never started: ${notStarted.take(5).mkString(",")}"
    // a retry the service parked instead of starting: the failed attempt
    // was still in its running-jobs snapshot (see `Rig.job`)
    val incubatedRetries = rig.incubatedRetries
    if (incubatedRetries.nonEmpty) problems += s"retries incubated: ${incubatedRetries.take(5).mkString(",")}"

    val replay = if (a.trace && problems.isEmpty) replaySteps(rig, counters) else Nil
    val tEnd = System.nanoTime()
    val logFiles = Option(new java.io.File(rig.eventsDir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    rig.stop()
    broker.foreach(_.stop())
    val heapMb = heapAfterGcMb()
    System.err.println(f"[graftbench] phases: probe ${coldMs / 1e3}%.1f s, timed ${s.wallNs / 1e9}%.1f s, teardown ${(System.nanoTime() - tEnd) / 1e9}%.1f s")

    val (httpCalls, httpErrors) = rig.httpCounts
    val unapplied = rec.mqSent.get() - rec.mqApplied.get()
    if (httpErrors > 0) problems += s"$httpErrors HTTP requests failed"
    if (unapplied > 0) problems += s"$unapplied MQ messages never applied"
    val serviceFailed = httpErrors + unapplied + lost.size + dup.size + notStarted.size +
      incubatedRetries.size

    // ---- the query set: traced mq_backlog runs only, after the service --------
    val queries =
      if (mq && a.trace && problems.isEmpty) Some(QueryRun.run(spark, a, rnd, problems))
      else None

    val attempted = httpCalls + rec.mqSent.get() + queries.map(_.attempted).getOrElse(0L)
    val failed = serviceFailed + queries.map(_.failed).getOrElse(0L)
    val ok = problems.isEmpty && failed == 0

    val acks = s.httpAckMs.toSeq ++ rec.mqAcks
    val metrics: Seq[(String, Metric)] =
      if (!ok) Nil
      else if (!a.trace) Seq(
        "setup_s" -> Metric(setupS, "s"),
        "heap_after_gc_mb" -> Metric(heapMb, "MB"),
        "cpu_ms_per_event" -> Metric(s.cpuNs / 1e6 / rec.eventsApplied.get(), "ms"))
      else {
        trace.write(java.nio.file.Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.spans.jsonl"))
        Seq(
          "svc.event_ack_mean_ms" -> Metric(acks.sum / acks.size, "ms"),
          "svc.trigger_p50_ms" -> Metric(Stats.median(rec.triggers), "ms"),
          "svc.dag_makespan_ms" -> Metric(Stats.median(s.makespanMs.toSeq), "ms"),
          "svc.events_per_s" -> Metric(rec.eventsApplied.get() / (s.wallNs / 1e9), "1/s"),
          "svc.read_p50_ms" -> Metric(Stats.median(s.readMs.toSeq), "ms")) ++
          Layers.service(Layers.Inputs(trace, rec, counters, s.wallNs, replay, logFiles,
            httpErrors, coldMs, gcMs, s.cpuNs, jobsTimed, incubatedRetries.size)) ++
          QueryRun.metrics(queries)
      }
    Outcome(ok, attempted, failed, metrics, problems.toSeq)
  }

  /** Heap in use after full collections; Spark's cleaner frees shuffle
    * and broadcast blocks only once their owners are collected, so the
    * collection repeats until the figure stops falling. */
  def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used
    var cur = used
    var n = 0
    while (cur < prev * 0.98 && n < 5) { prev = cur; cur = used; n += 1 }
    math.min(prev, cur)
  }

  private def nextCallback(rig: Rig, what: String): Callback =
    Option(rig.callbacks.poll(60, TimeUnit.SECONDS))
      .getOrElse(throw new BenchFailure(s"no run callback within 60 s ($what)"))

  /** POST events; each event's ack time is recorded when `s` is given. */
  private def postOk(rig: Rig, evs: Seq[LifecycleEvent], s: Option[Samples]): Long = {
    val (code, body, q0, q1) = rig.post(evs)
    if (code != 200) throw new BenchFailure(s"POST event ${evs.head.event_id} -> $code $body")
    s.foreach(smp => evs.foreach(_ => smp.httpAckMs += (q1 - q0) / 1e6))
    q1
  }

  /** dag_http: one event per step, closed loop: the origination, then
    * each callback once its run body has handed it over. The failing
    * kid's failure is posted after its siblings' successes (see
    * `Rig.job`). */
  def httpWave(rig: Rig, d: Dag, s: Samples): Unit = {
    val w0 = System.nanoTime()
    def post(cb: Callback): Long = postOk(rig, Seq(rig.callbackEvent(cb)), Some(s))
    postOk(rig, Seq(rig.origination(d.root)), Some(s))
    post(nextCallback(rig, d.root))
    val kids = Seq.fill(3)(nextCallback(rig, "kids"))
    val (bad, good) = kids.partition(_.subtype == "failure")
    (good.sortBy(_.sub.pipeline_uuid) ++ bad).foreach(post)
    post(nextCallback(rig, s"${d.failing} retry"))
    val end = post(nextCallback(rig, d.join))
    s.makespanMs += (end - w0) / 1e6
  }

  /** mq_backlog: K originations published to the broker as one backlog;
    * run bodies publish their callbacks there too; the round ends when
    * every join's success has been applied. */
  def mqRound(rig: Rig, ds: Seq[Dag], s: Samples): Unit = {
    val r0 = System.nanoTime()
    ds.foreach(d => rig.publish(rig.origination(d.root)))
    ds.foreach { d =>
      val done = rig.rec.awaitApplied(d.join, "success", r0, 120000L)
      s.makespanMs += (done - r0) / 1e6
    }
  }

  /** Replays recorded event batches through the public dispatch on the
    * service's current state: (step ms, Spark jobs) per step. */
  def replaySteps(rig: Rig, counters: SessionCounters): Seq[(Double, Long)] =
    rig.rec.appliedBatches.asScala.toSeq.take(ReplaySteps).map { evs =>
      val j0 = counters.jobs.get()
      val t0 = System.nanoTime()
      val res = rig.api.dispatch(evs, rig.service.facade.running.get(),
        rig.service.facade.incubating.get(), new Timestamp(System.currentTimeMillis()))
      res.submissions.collect()
      res.cleanup()
      ((System.nanoTime() - t0) / 1e6, counters.jobs.get() - j0)
    }
}
