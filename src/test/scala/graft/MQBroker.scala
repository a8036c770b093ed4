package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Minimal in-process broker speaking the [[graft.sources.mq.HttpMQ]]
  * wire protocol (`?tail` → count, `?tail&after=N&wait=ms` → count once
  * it passes N or the wait ends, `?from=A&to=B` → lines) — the loopback
  * stand-in for the reference's SQS queue, shared by the MQ specs and
  * GraftServiceSpec. */
final class MQBroker {
  private val log = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var stopped = false
  /** Fault injector: while set, every request answers 503. */
  @volatile var failing = false
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // a pending long-poll holds its handler thread, so requests get a pool
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "mq-broker"); t.setDaemon(true); t
  }
  server.setExecutor(pool)
  server.createContext("/q", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").map(_.split("=", 2)).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
      val body = log.synchronized {
        if (params.contains("tail")) {
          val after = params.get("after").map(_.toLong).getOrElse(Long.MaxValue)
          val until = System.currentTimeMillis() + params.get("wait").map(_.toLong).getOrElse(0L)
          while (log.length <= after && !stopped && System.currentTimeMillis() < until)
            log.wait(math.max(1L, until - System.currentTimeMillis()))
          log.length.toString
        } else {
          val (from, to) = (params("from").toLong, params("to").toLong)
          log.zipWithIndex
            .slice(from.toInt, math.min(to, log.length.toLong).toInt)
            .map { case ((ts, msg), off) =>
              s"$off\t$ts\t${Base64.getEncoder.encodeToString(msg.getBytes(StandardCharsets.UTF_8))}"
            }.mkString("\n")
        }
      }
      val (status, bytes) =
        if (failing) (503, Array.emptyByteArray) else (200, body.getBytes(StandardCharsets.UTF_8))
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }
  })
  server.start()
  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/q"
  def publish(msg: String, ts: Long = 1706742000000L): Unit =
    log.synchronized { log += ((ts, msg)); log.notifyAll() }
  /** Out-of-band removal of the oldest `n` messages — simulates a broker
    * truncating past the committed offset (the MQSourceContract rewind
    * case; a correct client must refuse, never remap). */
  def removeOldest(n: Int): Unit =
    log.synchronized { log.remove(0, math.min(n, log.length)); () }
  def stop(): Unit = {
    log.synchronized { stopped = true; log.notifyAll() }
    server.stop(0)
    pool.shutdown()
  }
}
