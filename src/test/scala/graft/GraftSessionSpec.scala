package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: every main builds its session through [[GraftSession]].
  * Copy-pasted builders drifted before — the oracle ran AQE on while the
  * bench timed it off — so a second `SparkSession.builder` in main code
  * fails here. */
class GraftSessionSpec extends AnyFunSuite {
  test("SparkSession.builder appears only in GraftSession.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    val callers =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .contains("SparkSession.builder"))
        .map((p: Path) => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(callers == Seq(Paths.get("graft", "GraftSession.scala").toString))
  }
}
