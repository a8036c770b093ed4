package graft.bench

import scala.collection.mutable.ArrayBuffer

import graft.model.{LifecycleEvent, Submission}

/** The harness's own tests: `python3 graftbench/run.py --selftest`.
  * No Spark session; each check is a pure function of the harness or the
  * in-process broker against the service's `HttpMQ` client. */
object SelfTest {

  private val results = ArrayBuffer.empty[(String, Option[String])]

  private def check(name: String)(body: => Unit): Unit = {
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    results += (name -> err)
  }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def run(): Outcome = {
    results.clear()

    check("median of odd and even samples") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    check("JSON numbers keep every digit and ignore the locale") {
      val prev = java.util.Locale.getDefault
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      try eq(Stats.num(1234.5678901), "1234.5678901")
      finally java.util.Locale.setDefault(prev)
    }

    check("run-set checker flags a lost run and a duplicated run") {
      val expected = Seq("root" -> 0, "kid1" -> 0, "kid2" -> 0, "kid2" -> 1, "join" -> 0)
      eq(RunCheck.diff(expected, expected.reverse), (Nil, Nil))
      val (lost, dup) = RunCheck.diff(expected,
        Seq("root" -> 0, "kid1" -> 0, "kid1" -> 0, "kid2" -> 0, "join" -> 0))
      eq(lost, Seq("kid2" -> 1))
      eq(dup, Seq("kid1" -> 0))
    }

    check("trigger latency runs from the callback that released the run") {
      val d = Dag("r", Seq("k1", "k2", "k3"), "j", "k2")
      val rec = new Recorder(Seq(d))
      rec.timed = true
      def ev(sub: String, p: String) =
        LifecycleEvent(1L, "job_exec_update", sub, p, s"exec-$p", null, null, 0, false)
      def sub(p: String, retry: Int) = Submission(p, s"exec-$p-$retry", Map.empty, retry)
      rec.submitted(sub("r", 0), 0L) // an origination triggers nothing
      rec.sent(ev("success", "r"), 1000000L)
      rec.submitted(sub("k1", 0), 3000000L) // 2 ms after the root's success
      rec.sent(ev("failure", "k2"), 10000000L)
      rec.submitted(sub("k2", 1), 15000000L) // retry: 5 ms after the failure
      Seq("k1" -> 20000000L, "k3" -> 21000000L, "k2" -> 30000000L)
        .foreach { case (p, t) => rec.sent(ev("success", p), t) }
      rec.submitted(sub("j", 0), 34000000L) // join: 4 ms after its last dep
      eq(rec.triggers, Seq(2.0, 5.0, 4.0))
    }

    check("a span's children are subtracted from its own time") {
      val outer = Span("client.event_post", "client", "1", 0L, 10000000L)
      val kids = Seq(Span("service.submit_sink", "http", "", 1000000L, 4000000L),
        Span("service.submit_sink", "tick", "", 2000000L, 3000000L),
        Span("service.submit_sink", "http", "", 9000000L, 11000000L))
      eq(Layers.within(outer, kids, "http").map(_.ms), Seq(3.0))
    }

    check("broker serves tail and from/to as HttpMQ reads them") {
      val b = new graft.MQBroker
      try {
        eq(graft.sources.mq.HttpMQ.tail(b.endpoint), 0L)
        Seq("a", "b\tc", "{\"x\":1}").foreach(b.publish(_))
        eq(graft.sources.mq.HttpMQ.tail(b.endpoint), 3L)
        val got = graft.sources.mq.HttpMQ.fetch(b.endpoint, 1, 5)
        eq(got.map(_._1), Seq(1L, 2L))
        eq(got.map(m => new String(m._3, "UTF-8")), Seq("b\tc", "{\"x\":1}"))
        eq(graft.sources.mq.HttpMQ.fetch(b.endpoint, 3, 3), Nil)
      } finally b.stop()
    }

    check("digest ignores row order and rounds floats, but sees every row") {
      import org.apache.spark.sql.Row
      val rows = Seq(Row("a", 1L, 0.1 + 0.2), Row("b", 2L, Seq(1.0, 2.0)), Row(null, 3L, Map("k" -> 1)))
      val (n, d) = QuerySet.digest(rows.iterator)
      eq(n, 3L)
      eq(QuerySet.digest(rows.reverseIterator), (n, d))
      eq(QuerySet.digest(Iterator(rows(1), rows(2), Row("a", 1L, 0.3))), (n, d))
      if (QuerySet.digest(rows.take(2).iterator)._2 == d) throw new AssertionError("dropped row unseen")
      if (QuerySet.digest((rows :+ rows(0)).iterator)._2 == d) throw new AssertionError("duplicate unseen")
    }

    check("a throwing query is counted as failed, not timed") {
      val boom: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
        (_, _) => throw new IllegalStateException("boom")
      val p = QuerySet.pass(null, "dir", Seq("boom"), Map("boom" -> boom),
        () => Seq.fill(9)(0L), (_, _) => None)
      eq(p.failed, Seq("boom"))
      eq(p.rows, Nil)
      eq(p.wallMs, 0.0)
      eq(QueryRun(p, Seq(p)).attempted, 2L)
      eq(QueryRun(p, Seq(p)).failed, 2L)
    }

    check("event JSON carries every LifecycleEvent field") {
      val t = new java.sql.Timestamp(1700000000123L)
      val js = ServiceBench.json(
        LifecycleEvent(7L, "job_exec_update", "success", "p\"q", "e", t, t, 1, false))
      val fields = graft.streaming.EventIngest.eventSchema.fieldNames.toSeq
      fields.foreach(f => if (!js.contains(s""""$f":""")) throw new AssertionError(s"no $f in $js"))
      if (!js.contains("\"2023-11-14T22:13:20.123Z\"")) throw new AssertionError(js)
      if (!js.contains("\"p\\\"q\"")) throw new AssertionError(js)
    }

    results.foreach { case (n, e) =>
      System.err.println(s"[selftest] ${if (e.isEmpty) "ok  " else "FAIL"} $n${e.map(" - " + _).getOrElse("")}")
    }
    val failed = results.count(_._2.nonEmpty)
    Outcome(failed == 0, results.size.toLong, failed.toLong, Nil,
      results.collect { case (n, Some(e)) => s"$n: $e" }.toSeq)
  }
}
