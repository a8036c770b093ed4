package graft.bench

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see `graftbench/run.py`). */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 30,
      trace: Boolean = false, result: String = "result.json", traceDir: String = "trace",
      selftest: Boolean = false, dataDir: String = "", expected: String = "",
      digestsOut: Option[String] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--result" :: v :: rest => parse(rest, a.copy(result = v))
    case "--trace-dir" :: v :: rest => parse(rest, a.copy(traceDir = v))
    case "--data-dir" :: v :: rest => parse(rest, a.copy(dataDir = v))
    case "--expected" :: v :: rest => parse(rest, a.copy(expected = v))
    case "--digests-out" :: v :: rest => parse(rest, a.copy(digestsOut = Some(v)))
    case "--selftest" :: rest => parse(rest, a.copy(selftest = true))
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** The deployable service's session (`GraftService.main`), pinned to
    * local[4] and kept inside the run's directory. */
  def session(): SparkSession = {
    val cwd = new java.io.File(".").getCanonicalPath
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$cwd/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val out =
      try {
        if (a.selftest) SelfTest.run()
        else a.workload match {
          case "dag_http" | "mq_backlog" => ServiceWorkload.run(a)
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          // no result file: the runner reports the run as failed
          System.exit(1)
          throw e
      }
    out.problems.foreach(p => System.err.println(s"[graftbench] problem: $p"))
    val json = out.toJson
    java.nio.file.Files.write(java.nio.file.Paths.get(a.result),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // the service's HTTP pool and Spark's threads are not all daemons
    System.exit(0)
  }
}
