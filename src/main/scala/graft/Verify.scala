package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails leaves no output dir and one `name<TAB>error` row in
  * `_failed.tsv`, so an earlier run's output is never graded. */
object Verify {
  /** The failure manifest's file name under the output dir. */
  val FailedFile = "_failed.tsv"

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration
    // via tools/selfcheck.py); the driver always passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // a query that failed in an earlier run has no output dir, so it
    // still fails if this run skips it
    Files.deleteIfExists(Paths.get(outDir, FailedFile))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => writeOne(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result to `$outDir/<name>`; true on success. On
    * failure delete that dir (it may hold an earlier run's output) and
    * append `name<TAB>error` to `$outDir/_failed.tsv`. */
  def writeOne(spark: SparkSession, sfDir: String, outDir: String, name: String,
               fn: (SparkSession, String) => DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.toString)
      System.err.println(s"[verify] $name failed: $msg")
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(outDir, name).toFile)
      Files.writeString(Paths.get(outDir, FailedFile),
        s"$name\t${msg.replaceAll("\\s+", " ").trim}\n", StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      false
    }
}
