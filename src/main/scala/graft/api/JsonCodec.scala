package graft.api

import java.io.StringWriter
import java.sql.Timestamp
import java.time.ZoneId
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonGenerator}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{LifecycleEvent, PipelineDef, PipelineTrigger, Submission}
import graft.orchestration.Catalog
import graft.orchestration.Dispatcher.IncubRow

/** The control plane's one JSON codec: every request body and every row
  * response of the HTTP facade, and every MQ message, go through it on
  * the driver (Jackson; no Spark job, no query plan).
  *
  * Reading follows Spark's JSON reader over the case-class schema, so a
  * body means what `spark.read.schema(...).json` made of it:
  *  - a field that is absent or `null` is null; unknown fields are
  *    ignored; names match exactly;
  *  - a string field takes any JSON value, a non-string one as its JSON
  *    text;
  *  - an integer field takes a JSON integer in range, a boolean field
  *    `true`/`false`;
  *  - a timestamp takes a string in Spark's timestamp syntax (ISO date
  *    and time, `T` or space, optional fraction and zone; no zone means
  *    `zone`), parsed by Spark's own `DateTimeUtils`, or an integer of
  *    epoch seconds.
  *
  * A value of the wrong type is malformed, not null. A lifecycle event
  * must carry `event_id`, `event_subtype` and `pipeline_uuid`;
  * `retry_count` defaults to 0 and `disable_downstream` to false (the
  * reference's optional fields, `runtime_models.py:11-12`); a negative
  * `event_id` is reserved for engine-minted events. Every rejection is
  * an `IllegalArgumentException`: a 400 over HTTP, a quarantined message
  * over MQ.
  *
  * Writing follows `df.toJSON` over the same rows: fields in case-class
  * order, `None`/null fields omitted, timestamps as
  * `yyyy-MM-dd'T'HH:mm:ss.SSSXXX` in `zone`, maps as objects.
  *
  * The service's [[Journal]] lines go through it too: [[line]] writes a
  * record with its rows nested and timestamps to the microsecond, and
  * [[record]] reads one back. */
final class JsonCodec(zone: ZoneId) {
  import JsonCodec._

  // ---- reading -------------------------------------------------------------

  /** One lifecycle event object, or an array of them. */
  def events(body: String): Seq[LifecycleEvent] = {
    val root = tree(body)
    val evs =
      if (root.isArray) root.elements().asScala.map(event(_)).toSeq
      else if (root.isObject) Seq(event(root))
      else bad("a lifecycle event body must be a JSON object or an array of them")
    if (evs.isEmpty) bad("no lifecycle events in request body")
    evs
  }

  /** MQ micro-batch: the decoded events of every message, in order, and
    * the raw messages the decoder rejected (the quarantine). */
  def messages(values: Seq[String]): (Seq[LifecycleEvent], Seq[String]) = {
    val decoded = values.map(v => v -> (try Some(events(v)) catch {
      case _: IllegalArgumentException => None
    }))
    (decoded.flatMap(_._2.getOrElse(Nil)), decoded.collect { case (v, None) => v })
  }

  /** A journaled event was accepted once, so engine-minted (negative)
    * ids pass; an external one must be non-negative. */
  private def event(n: JsonNode, external: Boolean = true): LifecycleEvent = {
    val o = new Obj(n, "lifecycle event")
    val e = LifecycleEvent(
      event_id = o.long("event_id").getOrElse(bad("lifecycle event needs event_id")),
      event_type = o.str("event_type").orNull,
      event_subtype = o.str("event_subtype").getOrElse(bad("lifecycle event needs event_subtype")),
      pipeline_uuid = o.str("pipeline_uuid").getOrElse(bad("lifecycle event needs pipeline_uuid")),
      exec_uuid = o.str("exec_uuid").orNull,
      event_time = o.ts("event_time").orNull,
      received_time = o.ts("received_time").orNull,
      retry_count = o.int("retry_count").getOrElse(0),
      disable_downstream = o.bool("disable_downstream").getOrElse(false))
    // external producers own the non-negative ids; engine callbacks,
    // cron and manual runs mint the negative ones (GraftService.callbackIds)
    if (external && e.event_id < 0)
      bad(s"negative event_id is reserved for engine callbacks: ${e.event_id}")
    e
  }

  /** `{"def": {...}, "triggers": [...]}` — the upsert body. */
  def upsert(body: String): (PipelineDef, Seq[PipelineTrigger]) = {
    val o = new Obj(objectTree(body), "request body")
    (pipelineDef(o.node("def").getOrElse(bad("missing def"))),
      o.array("triggers").map(trigger))
  }

  /** `{"def": {...}, "argv": [...], "env": {...}}` — a single-use run. */
  def singleUse(body: String): (PipelineDef, Seq[String], Map[String, String]) = {
    val o = new Obj(objectTree(body), "request body")
    val argv = o.node("argv").getOrElse(bad("missing argv"))
    if (!argv.isArray) bad("argv must be an array")
    (pipelineDef(o.node("def").getOrElse(bad("missing def"))),
      argv.elements().asScala.map(text).toSeq,
      o.strMap("env").getOrElse(Map.empty))
  }

  /** `{"updates": {...}}` — an incubation point update. */
  def updates(body: String): Map[String, String] =
    new Obj(objectTree(body), "request body").strMap("updates").getOrElse(bad("missing updates map"))

  private def pipelineDef(n: JsonNode): PipelineDef = {
    val o = new Obj(n, "def")
    PipelineDef(
      pipeline_uuid = o.str("pipeline_uuid").getOrElse(bad("def needs pipeline_uuid")),
      description = o.str("description").orNull,
      retry_max = o.int("retry_max").getOrElse(bad("def needs retry_max")),
      concurrency = o.bool("concurrency").getOrElse(bad("def needs concurrency")),
      engine = o.str("engine").orNull,
      engine_args = o.str("engine_args").orNull,
      schedule = o.str("schedule"),
      triggers_op = o.str("triggers_op"),
      scheduler_tracking_id = o.str("scheduler_tracking_id"),
      tags_team = o.str("tags_team"),
      tags_env = o.str("tags_env"),
      pipeline_body = o.str("pipeline_body"))
  }

  private def trigger(n: JsonNode): PipelineTrigger = {
    val o = new Obj(n, "trigger")
    PipelineTrigger(o.str("pipeline_uuid").orNull, o.str("trigger_uuid").orNull, o.str("op").orNull)
  }

  /** One journal line: a [[Journal.Record]]. */
  def record(line: String): Journal.Record = {
    val o = new Obj(objectTree(line), "journal record")
    Journal.Record(
      events = o.array("events").map(event(_, external = false)),
      added = o.array("added").map(incubRow),
      removed = o.array("removed").map(text),
      outbox = o.array("outbox").map(submission),
      closed = o.array("closed").map(text),
      cron_minute = o.long("cron_minute"),
      mq_offset = o.long("mq_offset"),
      catalog = o.node("catalog").map { n =>
        val c = new Obj(n, "catalog change")
        Catalog.Change(c.array("defs").map(pipelineDef), c.array("edges").map(trigger),
          c.array("dropped").map(text), c.bool("whole").getOrElse(false))
      })
  }

  private def incubRow(n: JsonNode): IncubRow = {
    val o = new Obj(n, "incubation row")
    IncubRow(o.str("pipeline_uuid").orNull, o.str("obj_id").orNull, o.ts("create_time").orNull,
      o.str("created_by_uuid"), o.str("reason").orNull, o.int("retry_count").getOrElse(0),
      o.strMap("triggers").getOrElse(Map.empty))
  }

  private def submission(n: JsonNode): Submission = {
    val o = new Obj(n, "submission")
    Submission(o.str("pipeline_uuid").orNull, o.str("exec_uuid").orNull,
      o.strMap("source_uuids").getOrElse(Map.empty), o.int("retry_count").getOrElse(0))
  }

  private def tree(body: String): JsonNode =
    try Option(Mapper.readTree(body)).getOrElse(MissingNode.getInstance)
    catch { case NonFatal(e) => bad(s"malformed JSON in request body: ${String.valueOf(e.getMessage).take(200)}") }

  private def objectTree(body: String): JsonNode = {
    val n = tree(body)
    if (!n.isObject) bad("request body must be a single JSON object")
    n
  }

  /** Typed field access over one JSON object. */
  private final class Obj(n: JsonNode, what: String) {
    if (!n.isObject) bad(s"$what must be a JSON object")
    def node(f: String): Option[JsonNode] = Option(n.get(f)).filterNot(_.isNull)
    private def typed[T](f: String, kind: String)(ok: JsonNode => Boolean)(get: JsonNode => T): Option[T] =
      node(f).map(v => if (ok(v)) get(v) else bad(s"$what field $f must be $kind"))
    def str(f: String): Option[String] = node(f).map(text)
    def long(f: String): Option[Long] =
      typed(f, "an integer")(v => v.isIntegralNumber && v.canConvertToLong)(_.longValue)
    def int(f: String): Option[Int] =
      typed(f, "a 32-bit integer")(v => v.isIntegralNumber && v.canConvertToInt)(_.intValue)
    def bool(f: String): Option[Boolean] = typed(f, "a boolean")(_.isBoolean)(_.booleanValue)
    def ts(f: String): Option[Timestamp] = node(f).map { v =>
      val micros =
        if (v.isTextual) DateTimeUtils.stringToTimestamp(UTF8String.fromString(v.textValue), zone)
        else if (v.isIntegralNumber && v.canConvertToLong) Some(v.longValue * 1000000L)
        else None
      DateTimeUtils.toJavaTimestamp(micros.getOrElse(bad(s"$what field $f must be a timestamp")))
    }
    def array(f: String): Seq[JsonNode] = node(f).map { v =>
      if (v.isArray) v.elements().asScala.toSeq else bad(s"$what field $f must be an array")
    }.getOrElse(Nil)
    def strMap(f: String): Option[Map[String, String]] = node(f).map { v =>
      if (!v.isObject) bad(s"$what field $f must be an object")
      v.properties().asScala.map(e => e.getKey -> (if (e.getValue.isNull) null else text(e.getValue))).toMap
    }
  }

  // ---- writing -------------------------------------------------------------

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(zone)
  private val microFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(zone)

  /** Case-class rows as a JSON array; `keep` selects fields by name. */
  def rows(rows: Seq[Product], keep: String => Boolean = _ => true): String =
    write { g =>
      g.writeStartArray()
      rows.foreach(product(g, _, keep, tsFormat))
      g.writeEndArray()
    }

  /** A case-class record as one JSON line: nested rows as objects,
    * timestamps to the microsecond, so [[record]] reads back what was
    * written. */
  def line(r: Product): String = write(product(_, r, _ => true, microFormat))

  private def product(g: JsonGenerator, r: Product, keep: String => Boolean,
                      ts: DateTimeFormatter): Unit = {
    g.writeStartObject()
    r.productElementNames.zip(r.productIterator).foreach { case (k, v) =>
      if (keep(k) && v != null && v != None) { g.writeFieldName(k); value(g, v, ts) }
    }
    g.writeEndObject()
  }

  /** A flat object of string fields (status bodies, errors, config). */
  def obj(fields: (String, String)*): String =
    write { g =>
      g.writeStartObject()
      fields.foreach { case (k, v) => g.writeStringField(k, v) }
      g.writeEndObject()
    }

  private def value(g: JsonGenerator, v: Any, ts: DateTimeFormatter): Unit = v match {
    case null | None => g.writeNull()
    case Some(x) => value(g, x, ts)
    case s: String => g.writeString(s)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case b: Boolean => g.writeBoolean(b)
    case t: Timestamp => g.writeString(ts.format(t.toInstant))
    case m: Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(String.valueOf(k)); value(g, x, ts) }
      g.writeEndObject()
    case s: Seq[_] => g.writeStartArray(); s.foreach(value(g, _, ts)); g.writeEndArray()
    case p: Product => product(g, p, _ => true, ts)
    case other => throw new IllegalStateException(s"no JSON form for ${other.getClass.getName}")
  }

  private def write(body: JsonGenerator => Unit): String = {
    val w = new StringWriter()
    val g = Factory.createGenerator(w)
    try body(g) finally g.close()
    w.toString
  }
}

object JsonCodec {
  // Spark's JSON reader allows single-quoted strings by default
  private val Factory: JsonFactory =
    new JsonFactoryBuilder().enable(JsonReadFeature.ALLOW_SINGLE_QUOTES).build()
  private val Mapper = new ObjectMapper(Factory)

  /** A codec in the session's time zone, as Spark's reader and writer use. */
  def forSession(spark: org.apache.spark.sql.SparkSession): JsonCodec =
    new JsonCodec(DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone))

  private def text(v: JsonNode): String = if (v.isTextual) v.textValue else v.toString

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
}
