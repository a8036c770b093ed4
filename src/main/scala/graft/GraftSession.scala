package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession — so the oracle
  * (`Verify`), the bench and the plan receipts all run the config the
  * bench times, and the service runs the config its clients pin. A
  * spec (`GraftSessionSpec`) fails if another main-code file calls
  * `SparkSession.builder`.
  */
object GraftSession {

  /** Query plane: `Bench`, `Verify`, `ExplainOne` and the sf1 fixture
    * mains. AQE is a SCALE feature (runtime coalescing, skew-join
    * splits, join-strategy rewrites keyed on runtime sizes), OFF by
    * default here (r15, measured on the ten hottest iterative/small-
    * shuffle rows: AQE re-plans every Exchange as its own query stage
    * + job, and at sf0.1 that per-stage replanning overhead is 10-30%
    * of the row's wall with zero benefit, since nothing is skewed and
    * 32-partition shuffles of KB-sized frames need no coalescing:
    * pagerank 2.42→1.75 s, ts_simsearch 1.58→1.24 s, ccnet 1.61→1.22 s
    * at equal results). A production deployment sets
    * SPARK_GRAFT_AQE=true — the operators are planned for AQE
    * (broadcast hints are explicit where required, nothing depends on
    * AQE firing). */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", Bench.knob("SPARK_GRAFT_AQE", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The scheduler service (`GraftService.main`, `Cli.main`): master
    * from SPARK_MASTER (default `local[4]`), shuffle partitions from
    * SPARK_GRAFT_CPUS (default 4), AQE at Spark's default. */
  def service(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-service")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
