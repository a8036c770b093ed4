package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is one timed call at a layer boundary: its name, the calling
  * thread's role (`http`, `tick`, `mq` or `client`), a key that joins
  * spans of one operation (an `exec_uuid` or an `event_id`), and its
  * start and end on the monotonic clock. Recording is off until
  * [[on]] is set, so the wrappers stay installed in untraced runs at
  * the cost of one volatile read. Spans are written out at exit. */
final class Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()

  private val costNs = new java.util.concurrent.atomic.AtomicLong()

  def record(name: String, key: String, startNs: Long, endNs: Long): Unit =
    if (on) {
      val t0 = System.nanoTime()
      spans.add(Span(name, Trace.role(Thread.currentThread()), key, startNs, endNs))
      costNs.addAndGet(System.nanoTime() - t0)
      ()
    }

  /** Time the service's threads spent recording spans. */
  def overheadNs: Long = costNs.get()

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, key, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"name": ${Stats.str(s.name)}, "role": ${Stats.str(s.role)}, "key": ${Stats.str(s.key)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

final case class Span(name: String, role: String, key: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Trace {
  /** The service's threads by name: the HTTP pool, the tick scheduler
    * and the streaming query's micro-batch thread. */
  def role(t: Thread): String = {
    val n = t.getName
    if (n.startsWith("graft-service-ticks")) "tick"
    else if (n.startsWith("stream execution thread")) "mq"
    else if (n.startsWith("pool-")) "http"
    else if (n.startsWith("bench-")) "client"
    else "other"
  }
}
