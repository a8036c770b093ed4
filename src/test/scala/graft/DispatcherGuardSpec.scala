package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: one dispatcher. Every ingress (HTTP, MQ poll, culler
  * and cron ticks) reaches `GraftApi.dispatch` → `Dispatcher.step`, and
  * only `Dispatcher.step` folds the incubation state machine per key.
  * A second caller of either is a second dispatcher whose routing and
  * concurrency gate drift from the real one, so it fails here. The
  * same holds for streaming: MQ ingest in `GraftService` is the one
  * streaming query main code starts. */
class DispatcherGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")

  /** Main files whose text calls `pattern`, relative to `root`. */
  private def callers(pattern: scala.util.matching.Regex): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined)
      .map((p: Path) => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("StateMachine.stepKey is called only from Dispatcher.scala") {
    // a call, not the `def` in StateMachine.scala
    assert(callers("""(?<!def )\bstepKey\(""".r) ==
      Seq(Paths.get("graft", "orchestration", "Dispatcher.scala").toString))
  }

  test("Dispatcher.step is called only from GraftApi.scala") {
    assert(callers("""\bDispatcher\.step\(""".r) ==
      Seq(Paths.get("graft", "api", "GraftApi.scala").toString))
  }

  test("writeStream is started only from GraftService.scala (MQ ingest)") {
    assert(callers("""\.writeStream\b""".r) ==
      Seq(Paths.get("graft", "api", "GraftService.scala").toString))
  }
}
