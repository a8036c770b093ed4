package graft.sources.mq

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The network queue client: the reference's transport (S1, SQS
  * long-poll over the network, `mq_poller.py:16-30`) spoken to a queue
  * bridge over HTTP.
  *
  * Wire protocol (offset-addressed, so a replay from a committed offset
  * re-reads the same messages — the property SQS's receive/delete lacks
  * and the reference's delete-at-most-one-per-poll loop gets wrong):
  *
  *   GET <endpoint>?tail                 →  "<count>"   (current message count)
  *   GET <endpoint>?tail&after=N&wait=ms →  "<count>" once it passes N, or
  *                                          after `wait` ms (long-poll; a
  *                                          bridge may ignore it and answer
  *                                          at once)
  *   GET <endpoint>?from=A&to=B          →  one message per line:
  *                                          "<offset>\t<epochMillis>\t<base64 body>"
  *
  * `commit` is non-destructive: the bridge keeps what the service
  * consumed (a bridge that truncates on ack would delete ≤ the committed
  * offset — never per-message).
  *
  * A production deployment points this at its queue bridge; the specs
  * drive it against an in-process JDK HttpServer serving the same
  * protocol (`MQBroker`) — a real socket either way.
  */
final class HttpMQ(endpoint: String) extends MQClient {
  def tail: Long = HttpMQ.tail(endpoint)
  def awaitTail(after: Long, waitMs: Long): Long =
    HttpMQ.get(s"$endpoint?tail&after=$after&wait=$waitMs", waitMs).trim.toLong
  def read(from: Long, to: Long): Seq[(Long, Long, Array[Byte])] =
    if (to <= from) Nil else HttpMQ.fetch(endpoint, from, to)
  def commit(end: Long): Unit = ()
}

object HttpMQ {
  // TIMEOUTS (r10 review: a broker that accepts the TCP connection but
  // never responds — GC pause, half-open connection after a partition —
  // blocked the poll forever with no error and no retry). A timed-out
  // request throws, the turn fails loudly, the next one retries.
  private val RequestTimeoutMs = 30000L
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** One GET; `waitMs` extends the timeout by the long-poll's wait. */
  private def get(url: String, waitMs: Long = 0L): String = {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .timeout(java.time.Duration.ofMillis(RequestTimeoutMs + waitMs)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(res.statusCode() == 200, s"mq endpoint $url returned ${res.statusCode()}")
    res.body()
  }

  def tail(endpoint: String): Long = get(s"$endpoint?tail").trim.toLong

  /** One (offset, epochMillis, body) per non-empty line. CRLF-tolerant
    * (r10 review: a bridge emitting \r\n left \r on the base64 field —
    * every decode failed though the payloads were fine), and a short
    * line fails with a NAMED error instead of a MatchError. */
  def fetch(endpoint: String, from: Long, to: Long): Seq[(Long, Long, Array[Byte])] =
    get(s"$endpoint?from=$from&to=$to").split("\r?\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split("\t", 3) match {
        case Array(off, ts, b64) =>
          (off.toLong, ts.toLong, java.util.Base64.getDecoder.decode(b64))
        case other =>
          throw new IllegalArgumentException(
            s"mq line has ${other.length} fields, expected offset\\tts\\tbase64: " +
              line.take(80))
      }
    }
}
