package graft.orchestration

import java.sql.Timestamp
import java.time.{ZoneOffset, ZonedDateTime}

import graft.model.{LifecycleEvent, PipelineDef}

/** Time-scheduled triggers: the reference's K8s CronJob provider (S4,
  * `/root/reference/src/kalytical/core/ext_sched.py:21-76` + the curl
  * container that POSTs run_by_pipeline_uuid) re-expressed as a
  * schedule registry + an evaluator that emits synthetic `origination`
  * events into the stream for every schedule matching the tick minute.
  *
  * Standard 5-field cron (minute hour day-of-month month day-of-week),
  * with `*`, lists, ranges and steps. Evaluation is a pure function of
  * (expr, minute) so driver-side ticking is deterministic and testable.
  */
object Cron {

  /** `restricted` = the field is not a bare `*`/`*／step` wildcard —
    * standard (vixie) cron ORs day-of-month and day-of-week only when
    * BOTH are restricted. */
  final case class Field(matches: Int => Boolean, restricted: Boolean)

  /** Parse one cron field into a predicate. Throws on malformed input. */
  private def parseField(spec: String, min: Int, max: Int): Field = {
    val preds = spec.split(',').toSeq.map { part =>
      val (rangePart, step) = part.split('/') match {
        case Array(r)    => (r, 1)
        case Array(r, s) => (r, s.toInt)
        case _           => throw new IllegalArgumentException(s"bad cron field: $part")
      }
      // validate at PARSE time: the predicate divides by step at match
      // time, so '*/0' accepted here would kill the whole scheduler
      // tick with an ArithmeticException instead of rejecting one
      // registration (r7 review)
      require(step > 0, s"cron step must be positive: $part")
      val (lo, hi) = rangePart match {
        case "*" => (min, max)
        case r if r.contains("-") =>
          val Array(a, b) = r.split('-'); (a.toInt, b.toInt)
        case v => val i = v.toInt; (i, if (step == 1) i else max)
      }
      require(lo >= min && hi <= max && lo <= hi, s"cron field out of range: $part")
      (n: Int) => n >= lo && n <= hi && (n - lo) % step == 0
    }
    Field(n => preds.exists(p => p(n)), restricted = !spec.trim.startsWith("*"))
  }

  final case class Schedule(minute: Field, hour: Field, dom: Field, month: Field, dow: Field) {
    def matches(t: ZonedDateTime): Boolean = {
      val d = t.getDayOfWeek.getValue % 7 // cron: 0=Sunday
      val domOk = dom.matches(t.getDayOfMonth)
      val dowOk = dow.matches(d)
      // vixie-cron day rule: when BOTH day fields are restricted the
      // day matches if EITHER does (the K8s CronJob the reference
      // delegates to follows this; ANDing fires on strictly fewer days)
      val dayOk =
        if (dom.restricted && dow.restricted) domOk || dowOk else domOk && dowOk
      minute.matches(t.getMinute) && hour.matches(t.getHour) &&
        month.matches(t.getMonthValue) && dayOk
    }
  }

  def parse(expr: String): Schedule = {
    val f = expr.trim.split("\\s+")
    require(f.length == 5, s"cron expression needs 5 fields: '$expr'")
    // dow accepts 0-7 with 7 as the standard Sunday alias for 0
    val dowRaw = parseField(f(4), 0, 7)
    val dow = Field(n => dowRaw.matches(n) || (n == 0 && dowRaw.matches(7)), dowRaw.restricted)
    Schedule(parseField(f(0), 0, 59), parseField(f(1), 0, 23),
      parseField(f(2), 1, 31), parseField(f(3), 1, 12), dow)
  }

  /** Does `expr` fire in the minute containing `now` (UTC)? */
  def due(expr: String, now: Timestamp): Boolean =
    parse(expr).matches(now.toInstant.atZone(ZoneOffset.UTC))

  /** Next fire time strictly after `now`, scanning minute-by-minute
    * (bounded to 4 years — past that the expression never fires). */
  def nextFire(expr: String, now: Timestamp): Option[Timestamp] = {
    val s = parse(expr)
    var t = now.toInstant.atZone(ZoneOffset.UTC).withSecond(0).withNano(0).plusMinutes(1)
    val limit = t.plusYears(4)
    while (t.isBefore(limit)) {
      if (s.matches(t)) return Some(Timestamp.from(t.toInstant))
      t = t.plusMinutes(1)
    }
    None
  }

  /** One scheduler tick: synthetic origination events for every
    * scheduled pipeline due at `now` (the Spark analog of the cron pod's
    * POST back to the API, `ext_sched.py:22`), folded over the catalog's
    * rows on the driver. */
  def fire(defs: Seq[PipelineDef], now: Timestamp): Seq[LifecycleEvent] = {
    val scheduled = defs.collect { case d if d.schedule.isDefined => (d.pipeline_uuid, d.schedule.get) }
    // deterministic per tick; the id space gives each minute 1M slots
    // so tick ids never collide across adjacent minutes (the old
    // minute*1000+i scheme collided at the 1000th same-minute schedule,
    // and execId derives exec uuids from event_id — r7 review)
    require(scheduled.length < 1000000,
      s"cron tick id space supports < 1e6 schedules, got ${scheduled.length}")
    // per-schedule isolation (r10 review: one malformed expression in
    // the catalog made the WHOLE tick throw forever — every schedule
    // stopped firing until the bad def was removed, with one stderr
    // line as evidence). A bad expr fires nothing and is logged; the
    // rest of the catalog keeps its cadence. upsert validation rejects
    // bad exprs at the door; this guards defs that arrived around it
    // (a GRAFT_META_DIR import, direct construction).
    def dueSafe(uuid: String, expr: String): Boolean =
      try due(expr, now)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[cron] skipping unparsable schedule for $uuid: ${e.getMessage}")
          false
      }
    val minute = now.getTime / 60000L
    scheduled.zipWithIndex.collect {
      case ((uuid, expr), i) if dueSafe(uuid, expr) =>
        LifecycleEvent(
          // NEGATIVE id: engine-minted events own the negative
          // half-space (r10 review: cron minted non-negative ids in
          // the space the ingress contract reserves for EXTERNAL
          // producers, so a producer reusing such an id — epoch-ish
          // schemes are natural — was silently dedup-dropped as a
          // replay). Sub-ranges stay disjoint by magnitude: engine
          // callbacks occupy ~−1e18 (GraftService.callbackIds seeds at
          // −epochNanos and counts DOWN from there), manual runs sit
          // at −epochMs (~1e12, strictly decreasing per-process), cron
          // at −(minute·1e6 + i) (~3e13). (r10 advice: this note used
          // to claim callbacks count down from −1.)
          event_id = -(minute * 1000000L + i),
          event_type = "job_exec_update",
          event_subtype = "origination",
          pipeline_uuid = uuid,
          exec_uuid = s"cron-$uuid-$minute",
          event_time = now, received_time = now,
          retry_count = 0, disable_downstream = false)
    }
  }

  /** The minute a [[fire]]d origination was minted in; None for any
    * other event. */
  def minuteOf(e: LifecycleEvent): Option[Long] =
    if (e.event_id < 0 && e.event_subtype == "origination" && e.exec_uuid != null &&
        e.exec_uuid.startsWith("cron-") && e.exec_uuid.endsWith(s"-${-e.event_id / 1000000L}"))
      Some(-e.event_id / 1000000L)
    else None
}
