package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Auth, GraftApi, GraftService, HttpFacade, JsonCodec, SecuredGraftApi}
import graft.meta.Fixtures
import graft.model._
import graft.orchestration._
import graft.orchestration.Dispatcher.IncubRow

/** Differential tests of the driver-side control plane against the Spark
  * path it replaced: the codec against `spark.read.schema(...).json` and
  * `df.toJSON`, and the `describe`/`list`/`downstream`, `running` and
  * `history` reads from driver state against the Dataset queries. */
class ControlPlaneDiffSpec extends AnyFunSuite {
  import ControlPlaneDiffSpec.F

  private lazy val spark = SparkSuite.spark
  private lazy val codec = JsonCodec.forSession(spark)
  private val mapper = new ObjectMapper()

  private val EventEnc = Encoders.product[LifecycleEvent]

  /** The HTTP ingress's former parse: Spark's JSON reader over the
    * encoder schema, then the negative-id check. */
  private def sparkEvents(body: String): Either[String, Seq[LifecycleEvent]] = {
    import spark.implicits._
    try {
      val evs = spark.read.schema(EventEnc.schema).json(Seq(body).toDS())
        .as[LifecycleEvent](EventEnc).collect().toSeq
      if (evs.isEmpty) Left("no events")
      else if (evs.exists(_.event_id < 0)) Left("negative")
      else Right(evs)
    } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage)) }
  }

  private def codecEvents(body: String): Either[String, Seq[LifecycleEvent]] =
    try Right(codec.events(body)) catch { case e: IllegalArgumentException => Left(e.getMessage) }

  private val tsForms = Seq(
    "\"2024-01-31T23:00:00Z\"", "\"2024-01-31T23:00:00+02:00\"", "\"2024-01-31T23:00:00-05:30\"",
    "\"2024-01-31T23:00:00\"", "\"2024-01-31 23:00:00\"", "\"2024-01-31T23:00:00.123Z\"",
    "\"2024-01-31T23:00:00.123456Z\"", "\"2024-01-31 23:00:00.5\"", "1706742000")

  private def gen(rnd: Random): Seq[(String, F)] = {
    def pick(fs: (Int, F)*): F = {
      val total = fs.map(_._1).sum
      var r = rnd.nextInt(total)
      fs.find { case (w, _) => r -= w; r < 0 }.get._2
    }
    val absent = F(None, "absent")
    val nul = F(Some("null"), "absent")
    Seq(
      "event_id" -> pick(20 -> F(Some(rnd.nextInt(100000).toString), "ok"),
        1 -> F(Some("-7"), "negative"), 1 -> absent, 1 -> nul,
        1 -> F(Some("\"12\""), "wrong"), 1 -> F(Some("1.5"), "wrong"), 1 -> F(Some("true"), "wrong")),
      "event_type" -> pick(10 -> F(Some("\"job_exec_update\""), "ok"), 1 -> absent, 1 -> F(Some("7"), "ok")),
      "event_subtype" -> pick(20 -> F(Some(s"\"${Seq("origination", "success", "failure")(rnd.nextInt(3))}\""), "ok"),
        1 -> absent, 1 -> nul, 1 -> F(Some("3"), "ok")),
      "pipeline_uuid" -> pick(20 -> F(Some(s"\"p-${rnd.nextInt(9)}\""), "ok"),
        1 -> absent, 1 -> nul, 1 -> F(Some("{\"a\":1}"), "ok")),
      "exec_uuid" -> pick(10 -> F(Some(s"\"e-\\\"q\\u00e9-${rnd.nextInt(9)}\""), "ok"), 1 -> absent, 1 -> nul),
      "event_time" -> pick(20 -> F(Some(tsForms(rnd.nextInt(tsForms.size))), "ok"), 1 -> absent, 1 -> nul,
        1 -> F(Some("\"yesterday\""), "wrong"), 1 -> F(Some("1.5"), "wrong"), 1 -> F(Some("true"), "wrong")),
      "received_time" -> pick(20 -> F(Some(tsForms(rnd.nextInt(tsForms.size))), "ok"), 1 -> absent),
      "retry_count" -> pick(20 -> F(Some(rnd.nextInt(4).toString), "ok"), 1 -> absent, 1 -> nul,
        1 -> F(Some("\"1\""), "wrong"), 1 -> F(Some("3000000000"), "wrong"), 1 -> F(Some("0.5"), "wrong")),
      "disable_downstream" -> pick(20 -> F(Some(rnd.nextBoolean().toString), "ok"), 1 -> absent, 1 -> nul,
        1 -> F(Some("\"true\""), "wrong"), 1 -> F(Some("1"), "wrong")),
      "extra" -> pick(5 -> absent, 1 -> F(Some("{\"nested\":[1,2]}"), "ok")))
  }

  private def render(fields: Seq[(String, F)]): String =
    fields.collect { case (k, F(Some(j), _)) => s""""$k":$j""" }.mkString("{", ",", "}")

  /** Where the codec's rules deliberately part from Spark's reader. */
  private def kinds(fields: Seq[(String, F)]): Map[String, String] = fields.map { case (k, f) => k -> f.kind }.toMap

  private def codecAccepts(fs: Seq[(String, F)]): Boolean = {
    val k = kinds(fs)
    k("event_id") == "ok" && Seq("event_subtype", "pipeline_uuid").forall(k(_) == "ok") &&
      Seq("event_time", "retry_count", "disable_downstream").forall(k(_) != "wrong")
  }

  /** Spark's reader and the codec agree on this body by rule: no field
    * is one the codec defaults (Spark rejected the null primitive), no
    * dispatch key is absent (Spark kept a null) and no timestamp is of
    * the wrong type (Spark kept a null). */
  private def agreeByRule(fs: Seq[(String, F)]): Boolean = {
    val k = kinds(fs)
    !Seq("retry_count", "disable_downstream", "event_subtype", "pipeline_uuid").exists(k(_) == "absent") &&
      k("event_time") != "wrong"
  }

  test("parse: the codec reads event bodies as Spark's JSON reader did, except where its rules say otherwise") {
    val rnd = new Random(20261019L)
    var agreed, parted = 0
    (0 until 300).foreach { i =>
      val objs = Seq.fill(if (i % 10 == 0) 1 + rnd.nextInt(3) else 1)(gen(rnd))
      val body = if (objs.size == 1 && i % 20 != 0) render(objs.head) else objs.map(render).mkString("[", ",", "]")
      val (old, now) = (sparkEvents(body), codecEvents(body))
      assert(now.isRight == objs.forall(codecAccepts), s"codec rules on $body: $now")
      if (objs.forall(agreeByRule)) {
        agreed += 1
        (old, now) match {
          case (Right(a), Right(b)) => assert(a == b, s"decoded differently: $body")
          case (Left(_), Left(_)) => ()
          case _ => fail(s"outcomes differ on $body: spark $old, codec $now")
        }
      } else {
        parted += 1
        now.foreach(_.zip(objs).foreach { case (e, fs) =>
          if (kinds(fs)("retry_count") == "absent") assert(e.retry_count == 0)
          if (kinds(fs)("disable_downstream") == "absent") assert(!e.disable_downstream)
        })
      }
    }
    assert(agreed > 150 && parted > 30, s"generator coverage: $agreed agreed, $parted by rule")
  }

  test("parse: fixed corners — zones, separators, epoch seconds, fractions, arrays, extra fields, broken JSON") {
    val base = """"event_id":5,"event_type":"job_exec_update","event_subtype":"success","pipeline_uuid":"p","exec_uuid":"e","retry_count":0,"disable_downstream":false"""
    def same(body: String) = assert(codecEvents(body) == sparkEvents(body), body)
    for (t <- tsForms) same(s"""{$base,"event_time":$t}""")
    val one = s"""{$base,"event_time":"2024-01-31T23:00:00Z"}"""
    same(s"[$one,$one]")
    same(s"""{$base,"unknown":{"a":[1]}}""")
    // single-quoted JSON, as Spark's reader allows
    same("{" + base.replace('"', '\'') + "}")
    for (broken <- Seq("not json", "{", "][", "", "null", "5", "[]", "[1]", """{"event_id": "not json"""))
      assert(sparkEvents(broken).isLeft && codecEvents(broken).isLeft, broken)
  }

  // ---- writing ----------------------------------------------------------------

  private def tree(s: String): JsonNode = mapper.readTree(s)

  private def sameJson[T <: Product](rows: Seq[T], ds: Dataset[T], keep: String => Boolean = _ => true): Unit = {
    val kept = ds.columns.filter(keep)
    val want = ds.select(kept.map(col).toIndexedSeq: _*).toJSON.collect().mkString("[", ",", "]")
    assert(tree(codec.rows(rows, keep)) == tree(want), s"\ncodec: ${codec.rows(rows, keep)}\nspark: $want")
  }

  private def rndTs(rnd: Random): Timestamp =
    if (rnd.nextInt(6) == 0) null
    else {
      val t = new Timestamp(1700000000000L + rnd.nextInt(1000000000).toLong * 1000L + rnd.nextInt(1000))
      t.setNanos(t.getNanos + rnd.nextInt(1000) * 1000)
      t
    }

  private def rndStr(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => null
    case 1 => "q\"uo\\te\né\u0001"
    case n => s"s-$n-${rnd.nextInt(100)}"
  }

  test("write: codec rows match df.toJSON as JSON trees (null fields omitted, timestamps, maps)") {
    val rnd = new Random(7L)
    def opt(rnd: Random) = Option(rndStr(rnd))
    for (_ <- 0 until 20) {
      val evs = Seq.fill(5)(LifecycleEvent(rnd.nextLong(), rndStr(rnd), rndStr(rnd), rndStr(rnd), rndStr(rnd),
        rndTs(rnd), rndTs(rnd), rnd.nextInt(), rnd.nextBoolean()))
      sameJson(evs, spark.createDataset(evs)(EventEnc))
      val jobs = Seq.fill(5)(RunningJob(rndStr(rnd), rndStr(rnd), rndStr(rnd), rndStr(rnd), rndStr(rnd),
        Option(rndTs(rnd)), Option(rndTs(rnd))))
      sameJson(jobs, spark.createDataset(jobs)(Encoders.product[RunningJob]))
      val subs = Seq.fill(5)(Submission(rndStr(rnd), rndStr(rnd),
        Seq.fill(rnd.nextInt(3))(s"k${rnd.nextInt(9)}" -> rndStr(rnd)).toMap, rnd.nextInt(5)))
      sameJson(subs, spark.createDataset(subs)(Encoders.product[Submission]))
      val defs = Seq.fill(5)(PipelineDef(rndStr(rnd), rndStr(rnd), rnd.nextInt(3), rnd.nextBoolean(),
        rndStr(rnd), rndStr(rnd), opt(rnd), opt(rnd), opt(rnd), opt(rnd), opt(rnd), opt(rnd)))
      val defDs = spark.createDataset(defs)(Encoders.product[PipelineDef])
      sameJson(defs, defDs)
      sameJson(defs, defDs, _ != "pipeline_body")
      sameJson(defs, defDs, Set("pipeline_uuid", "pipeline_body"))
      val incub = Seq.fill(5)(IncubRow(rndStr(rnd), rndStr(rnd), rndTs(rnd), opt(rnd), rndStr(rnd),
        rnd.nextInt(3), Map("a" -> rndStr(rnd))))
      val incubDs = spark.createDataset(incub)(Encoders.product[IncubRow])
      sameJson(incub, incubDs)
      sameJson(incub, incubDs, _ != "triggers")
    }
  }

  // ---- reads from driver state --------------------------------------------------

  private def json(df: DataFrame): JsonNode = tree(df.toJSON.collect().mkString("[", ",", "]"))

  test("reads: describe/list/downstream from the catalog index == the Dataset queries") {
    val defs = Fixtures.defsDS(spark)
    val edges = Fixtures.edgesDS(spark)
    val api = new GraftApi(spark, Catalog(defs), edges, new EngineManager(Nil))
    val snap = api.catalog
    val uuids = Fixtures.defs.map(_.pipeline_uuid) :+ "no-such-pipeline"
    for (u <- uuids) {
      assert(tree(codec.rows(snap.describe(u))) ==
        json(defs.where(col("pipeline_uuid") === u).toDF()), u)
      val kids = edges.where(col("trigger_uuid") === u).select("pipeline_uuid").distinct()
      assert(tree(codec.rows(snap.downstream(u), _ != "pipeline_body")) ==
        json(defs.join(kids, Seq("pipeline_uuid"), "left_semi").drop("pipeline_body")), u)
    }
    for (p <- Seq(None, Some("ingest-"), Some("report-"), Some("zzz")); team <- Seq(None, Some("data-eng"));
         env <- Seq(None, Some("prod"))) {
      var q = defs.drop("pipeline_body")
      p.foreach(x => q = q.where(col("pipeline_uuid").startsWith(x)))
      team.foreach(x => q = q.where(col("tags_team") === x))
      env.foreach(x => q = q.where(col("tags_env") === x))
      assert(tree(codec.rows(snap.list(p, team, env), _ != "pipeline_body")) == json(q), s"$p $team $env")
    }
  }

  /** A backend serving fixed rows through `jobs` only (the default
    * `rows` path), as an external backend would. */
  private final class FixedEngine(val name: String, rs: Seq[RunningJob]) extends EngineBackend {
    def submit(sub: Submission, job: EngineJob): Unit = ()
    def abort(execUuid: String): Unit = ()
    def jobs(s: SparkSession): Dataset[RunningJob] = s.createDataset(rs)(Encoders.product[RunningJob])
    def logs(execUuid: String, maxKb: Int): String = ""
  }

  test("reads: running from engine rows == the union/filter/orderBy/limit query") {
    val rnd = new Random(11L)
    val statuses = Seq("running", "waiting", "pending", "success", "failed", "aborted")
    for (round <- 0 until 10) {
      val ids = rnd.shuffle((0 until 30).map(i => f"exec-$i%03d")).iterator
      def engine(n: String, k: Int) = new FixedEngine(n, Seq.tabulate(k) { i =>
        RunningJob(if (round % 3 == 0 && n == "a" && i == 0) null else ids.next(), s"p-${rnd.nextInt(4)}", n,
          s"t-$i", statuses(rnd.nextInt(statuses.size)), Option(rndTs(rnd)), Option(rndTs(rnd)))
      })
      val engines = Seq(engine("a", 6), engine("b", 8))
      val mgr = new EngineManager(engines)
      for (st <- Seq(Seq("running", "waiting", "pending"), Seq("success", "failed"), Nil);
           p <- Seq(None, Some("p-1")); limit <- Seq(3, 10)) {
        var q = engines.map(_.jobs(spark).toDF()).reduce(_.unionByName(_))
        if (st.nonEmpty) q = q.where(col("engine_status").isin(st: _*))
        p.foreach(u => q = q.where(col("pipeline_uuid") === u))
        assert(tree(codec.rows(mgr.filteredRows(spark, st, p, limit))) ==
          json(q.orderBy("exec_uuid").limit(limit)), s"$st $p $limit")
      }
    }
  }

  // ---- history: the held events, the coverage floor, a compaction, a restart -------

  private val Admin = "admin-token"
  private val client = HttpClient.newHttpClient()

  private def call(base: String, method: String, path: String, body: String = ""): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .header("Authorization", s"Bearer $Admin").build(), HttpResponse.BodyHandlers.ofString())

  private def newApi(cfg: GraftConfig) = new GraftApi(spark, Catalog(Fixtures.defsDS(spark)),
    Fixtures.edgesDS(spark), new EngineManager(Seq(new LocalSparkEngine(spark))), cfg)
  private def secured(cfg: GraftConfig) = new SecuredGraftApi(newApi(cfg), new Auth.Policy(
    new Auth.StaticTokenVerifier(Map(Admin -> Seq("Data-Admin"))), apiTokens = Set.empty))

  private val T0 = 1717000000000L

  private def post(base: String, id: Long, pipeline: String, atMs: Long): Unit = {
    val ev = s"""{"event_id":$id,"event_type":"job_exec_update","event_subtype":"origination",""" +
      s""""pipeline_uuid":"$pipeline","exec_uuid":"x-$id"}"""
    val r = call(base, "POST", s"/pipeline/dispatcher/event?now_epoch_ms=$atMs", ev)
    assert(r.statusCode() == 200, r.body())
  }

  /** The route's answer against `EventLog.history` over the whole log. */
  private def checkWindow(base: String, log: Dataset[LifecycleEvent], nowMs: Long, since: Long,
                          pipeline: Option[String]): Unit = {
    val path = s"/pipeline/dispatcher/event/history?now_epoch_ms=$nowMs&since_seconds=$since&max_records=7" +
      pipeline.map("&pipeline_uuid=" + _).getOrElse("")
    val r = call(base, "GET", path)
    assert(r.statusCode() == 200, r.body())
    assert(tree(r.body()) == json(EventLog.history(log, new Timestamp(nowMs), since, pipeline, maxRecords = 7)),
      s"window now=$nowMs since=$since $pipeline")
  }

  /** A service on `ckpt` whose log keeps 100 s of compacted events, with
    * no culler or cron tick inside the test. */
  private def keep100(ckpt: String) = {
    val cfg = GraftConfig.default.copy(historySinceSeconds = 100L, cullingIntervalSeconds = 3600L)
    new GraftService(secured(cfg), spark, None, ckpt,
      jobFactory = Some((_: Option[PipelineDef], _: Submission) => EngineJob.SparkClosure(_ => ())),
      cfg = cfg, cronCheckInterval = scala.concurrent.duration.DurationInt(1).hour)
  }

  private val pipes = Seq("ingest-orders", "report-weekly", "stream-metrics")

  test("history: windows on both sides of the tail's coverage floor == EventLog.history over the log") {
    val svc = keep100(SparkSuite.tempDir("diff-floor-ckpt"))
    val base = s"http://127.0.0.1:${svc.start(0).getPort}"
    try {
      // 40 events over 400 s, then a compaction: the log keeps the
      // compacted events within 100 s of the newest, so the oldest 300 s
      // are trimmed and the floor sits near T0 + 300 s
      (0 until 40).foreach(i => post(base, 7000L + i, pipes(i % 3), T0 + i * 10000L))
      svc.cullTick()
      val floor = T0 + 280000L
      assert(svc.facade.eventLog.covers(floor + 1) && !svc.facade.eventLog.covers(floor),
        "the coverage floor is the newest trimmed stamp")
      val end = T0 + 400000L
      for (since <- Seq(30L, 100L, 119L, 120L, 121L, 250L, 1000L); p <- Seq(None, Some("report-weekly")))
        checkWindow(base, svc.facade.eventLog.get(), end, since, p)
    } finally svc.shutdown()
  }

  test("history: events straddling a compaction, before and after a restart == EventLog.history; a compacted id's MQ redelivery is dropped") {
    // inside the MQ dedup horizon, so the restore reads the compacted ids back
    val T0 = System.currentTimeMillis() - 3600000L
    val ckpt = SparkSuite.tempDir("diff-straddle-ckpt")
    val ids = (9000L until 9030L).toSeq
    val end = T0 + 300000L
    def check(svc: GraftService, base: String, what: String): Unit = {
      assert(svc.facade.eventLog.get().collect().map(_.event_id).sorted.toSeq == ids, s"$what: each event once")
      for (since <- Seq(50L, 100L, 110L, 111L, 119L, 120L, 121L, 200L, 1000L); p <- Seq(None, Some("report-weekly")))
        checkWindow(base, svc.facade.eventLog.get(), end, since, p)
      val now = new Timestamp(end)
      val redelivered = LifecycleEvent(ids.head, "job_exec_update", "origination", "ingest-orders",
        s"x-${ids.head}", now, now, 0, disable_downstream = false)
      assert(svc.facade.ingestDedup(Seq(redelivered), now, new Timestamp(end - 7 * 86400000L)).isEmpty,
        s"$what: the compacted id's redelivery applies again")
    }
    val a = keep100(ckpt)
    try {
      val base = s"http://127.0.0.1:${a.start(0).getPort}"
      // 20 events over 200 s are compacted, then 10 more arrive over the
      // next 100 s: the compacted ones within 100 s of the newest stay held
      ids.take(20).zipWithIndex.foreach { case (id, i) => post(base, id, pipes(i % 3), T0 + i * 10000L) }
      a.cullTick()
      ids.drop(20).zipWithIndex.foreach { case (id, i) => post(base, id, pipes(i % 3), T0 + (20 + i) * 10000L) }
      assert(a.facade.eventLog.covers(T0 + 180001L) && !a.facade.eventLog.covers(T0 + 180000L),
        "the floor is the newest compacted stamp no longer held")
      check(a, base, "live")
    } finally a.shutdown()
    val b = keep100(ckpt)
    try {
      val base = s"http://127.0.0.1:${b.start(0).getPort}"
      // the restart holds the uncompacted events; the history's newest
      // stamp is the floor
      assert(b.facade.eventLog.covers(T0 + 190001L) && !b.facade.eventLog.covers(T0 + 190000L))
      check(b, base, "restarted")
    } finally b.shutdown()
  }

  test("history: after a restart, windows past and before the restored log == EventLog.history") {
    // inside the MQ dedup horizon, so the restore reads these rows back
    val T0 = System.currentTimeMillis() - 3600000L
    val ckpt = SparkSuite.tempDir("diff-history-ckpt")
    def service() = new GraftService(secured(GraftConfig.default), spark, None, ckpt,
      jobFactory = Some((_: Option[PipelineDef], _: Submission) => EngineJob.SparkClosure(_ => ())))
    val a = service()
    try {
      val base = s"http://127.0.0.1:${a.start(0).getPort}"
      (0 until 5).foreach(i => post(base, 8000L + i, "ingest-orders", T0 + i * 1000L))
    } finally a.shutdown()
    val b = service()
    try {
      val base = s"http://127.0.0.1:${b.start(0).getPort}"
      (5 until 10).foreach(i => post(base, 8000L + i, "report-weekly", T0 + 60000L + i * 1000L))
      // nothing was compacted, so the restored events are held: a window
      // from T0 + 10 s and one that reaches them are both answered from
      // driver rows
      assert(b.facade.eventLog.covers(T0 + 10000L))
      assert(b.facade.eventLog.covers(T0 + 4000L))
      val end = T0 + 80000L
      for (since <- Seq(10L, 70L, 76L, 77L, 80L, 100L); p <- Seq(None, Some("ingest-orders")))
        checkWindow(base, b.facade.eventLog.get(), end, since, p)
    } finally b.shutdown()
  }
}

object ControlPlaneDiffSpec {
  /** One generated event field: its JSON text (None = absent) and its
    * kind (`ok`, `absent`, `wrong`, `negative`). */
  final case class F(json: Option[String], kind: String)
}
