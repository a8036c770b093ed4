package graft.bench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced service run. Each layer's self time is
  * its span minus the child spans inside it. */
object Layers {

  final case class Inputs(trace: Trace, rec: Recorder, counters: SessionCounters,
      wallNs: Long, replay: Seq[(Double, Long)], logFiles: Int, httpErrors: Long, coldMs: Double, gcMs: Long,
      cpuNs: Long, jobsTimed: Long, retriesIncubated: Int)

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def within(outer: Span, spans: Seq[Span], role: String): Seq[Span] =
    spans.filter(s => s.role == role && s.startNs >= outer.startNs && s.endNs <= outer.endNs)

  def service(in: Inputs): Seq[(String, Metric)] = {
    val all = in.trace.all
    def named(n: String) = all.filter(_.name == n)
    val ingress = Set("http", "mq")
    val sinks = named("service.submit_sink")
    val appends = named("service.event_log_append").filter(s => ingress(s.role))
    val submits = named("engine.submit")
    val posts = named("client.event_post")
    val stepSinks = sinks.filter(s => ingress(s.role))
    // persistence: the sink minus the engine submissions it made
    val persist = stepSinks.map(k => k.ms - within(k, submits, k.role).map(_.ms).sum)
    // the HTTP layer's own share of an ack: parse, step, collect, lock wait
    val ackSelf = posts.map { p =>
      p.ms - (within(p, sinks, "http") ++ within(p, appends, "http")).map(_.ms).sum
    }
    val batches = in.counters.batches.asScala.toSeq
    val starts = batches.map(_._1).sorted
    val pollWait = in.rec.mqSentWallMs.asScala.toSeq.flatMap { sent =>
      starts.find(_ >= sent).map(b => (b - sent).toDouble)
    }
    val events = math.max(1L, in.rec.eventsApplied.get()).toDouble
    val ackP50 = p50(posts.map(_.ms))
    val accounted = p50(stepSinks.filter(_.role == "http").map(_.ms)) +
      p50(appends.filter(_.role == "http").map(_.ms)) + p50(ackSelf)
    Seq(
      "svc.cold_first_wave_ms" -> Metric(in.coldMs, "ms"),
      "orchestration.step_ms" -> Metric(p50(in.replay.map(_._1)), "ms"),
      "orchestration.spark_jobs_per_step" -> Metric(p50(in.replay.map(_._2.toDouble)), "count"),
      "service.submit_sink_ms" -> Metric(p50(stepSinks.map(_.ms)), "ms"),
      "service.persist_ms" -> Metric(p50(persist), "ms"),
      "service.event_log_append_ms" -> Metric(p50(appends.map(_.ms)), "ms"),
      "service.event_log_files" -> Metric(in.logFiles.toDouble, "count"),
      "api.event_ack_self_ms" -> Metric(p50(ackSelf), "ms"),
      "api.http_errors" -> Metric(in.httpErrors.toDouble, "count"),
      "engine.submit_ms" -> Metric(p50(submits.map(_.ms)), "ms"),
      "engine.submit_to_start_ms" -> Metric(p50(named("engine.submit_to_start").map(_.ms)), "ms"),
      "engine.runs_started" -> Metric(in.rec.starts.size.toDouble, "count"),
      "engine.runs_failed" -> Metric(in.rec.runsFailed.get().toDouble, "count"),
      "engine.retries_incubated" -> Metric(in.retriesIncubated.toDouble, "count"),
      "mq.batches" -> Metric(batches.size.toDouble, "count"),
      "mq.rows_per_batch" -> Metric(p50(batches.map(_._2.toDouble)), "count"),
      "mq.batch_ms" -> Metric(p50(batches.map(_._3.toDouble)), "ms"),
      "mq.add_batch_ms" -> Metric(p50(batches.map(_._4.toDouble)), "ms"),
      "mq.poll_wait_ms" -> Metric(p50(pollWait), "ms"),
      "mq.backlog_max" -> Metric(in.rec.backlogMax.toDouble, "count"),
      "spark.jobs_per_event" -> Metric(in.jobsTimed / events, "count"),
      "spark.tasks_per_event" -> Metric(in.counters.tasks.get() / events, "count"),
      "jvm.gc_ms" -> Metric(in.gcMs.toDouble, "ms"),
      "jvm.cpu_ms_per_event" -> Metric(in.cpuNs / 1e6 / events, "ms"),
      "trace.overhead_pct" -> Metric(100.0 * in.trace.overheadNs / math.max(1L, in.wallNs), "%"),
      "trace.ack_accounted_pct" -> Metric(if (ackP50 > 0) 100.0 * accounted / ackP50 else 0.0, "%"))
  }
}
