package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Verify's per-query write: a query that throws must not leave an
  * earlier run's output behind for the oracle compare to grade. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("a failing query deletes a stale output dir and is listed in _failed.tsv; a passing one is not") {
    val out = SparkSuite.tempDir("verify-out")
    val name = "k01_table_counts"
    val query = SparkEntry.queries(name)
    // an earlier run's output for the same query
    spark.range(3).toDF("id").coalesce(1).write.parquet(s"$out/$name")
    assert(Files.isDirectory(Paths.get(out, name)))

    // no tables under an empty SF dir: the query throws before it writes
    val emptySf = SparkSuite.tempDir("verify-empty-sf")
    assert(!Verify.writeOne(spark, emptySf, out, name, query))
    assert(!Files.exists(Paths.get(out, name)), "the stale output dir must be deleted")
    val failed = Files.readAllLines(Paths.get(out, Verify.FailedFile)).asScala.toSeq
    assert(failed.size == 1)
    val cells = failed.head.split("\t", -1)
    assert(cells.length == 2 && cells(0) == name && cells(1).nonEmpty,
      s"expected one name<TAB>error row: $failed")

    // the same query over real tables writes its dir and adds no row
    assert(Verify.writeOne(spark, SparkSuite.sfDir, out, name, query))
    assert(spark.read.parquet(s"$out/$name").count() ==
      query(spark, SparkSuite.sfDir).count())
    assert(Files.readAllLines(Paths.get(out, Verify.FailedFile)).size == 1)
  }
}
