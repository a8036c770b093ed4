package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are plain parquet reads — filters/projections applied by
  * callers push down to the scan via Catalyst (verified with
  * `.explain("formatted")`: `PushedFilters`/`ReadSchema` reach the
  * `FileSourceScanExec`). At cluster scale these reads parallelize per
  * parquet row-group; nothing here materializes on the driver.
  *
  * `events.ts` is written as parquet INT64 TIMESTAMP(NANOS) which Spark
  * does not read natively ([PARQUET_TYPE_ILLEGAL]); we read it via
  * `spark.sql.legacy.parquet.nanosAsLong` and expose `ts` as a
  * microsecond-truncated TimestampType (`timestamp_micros(ns div 1000)`),
  * which matches DuckDB's `CAST(ts AS TIMESTAMP)` truncation exactly, so
  * oracle comparisons are precision-stable.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Relation handles are memoized per (session, dir, name) via
    * `OpMemo.plan` — NOT `.cache()`d (no storage memory; the scan still
    * runs per action), but the resolved `LogicalRelation`'s file
    * listing and footer-derived schema are reused instead of re-paid
    * driver-side on every construction (r14 verdict #3: the bench's
    * 190 queries × 6 passes re-listed these ten static dirs thousands
    * of times). A handle is valid while the files under its dir stay
    * put: `OpMemo.invalidate(spark, Some(dir))` drops it with the
    * cached frames. `GraftService.dataPlaneJob` calls it on each run's
    * input dir when the run ends, and `Bench.run` on its SF dir
    * before the warm pass. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.operators.OpMemo.plan(spark, dir, s"table:$name") {
      name match {
        case "events" => buildEvents(spark, dir)
        case _        => spark.read.parquet(path(dir, name))
      }
    }

  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** `events` with `ts` as microsecond TimestampType (see class doc).
    *
    * Handles BOTH physical encodings the driver has shipped:
    * TIMESTAMP(NANOS) (read as LONG under `nanosAsLong`, truncated
    * ns→µs) and plain TIMESTAMP(MICROS) (read natively — as
    * TIMESTAMP_NTZ under `inferTimestampNTZ`, cast to the session-UTC
    * TimestampType, a value-preserving reinterpretation since the
    * session runs UTC — so downstream time arithmetic and the DuckDB
    * oracle's naive timestamps agree either way). */
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")

  private def buildEvents(spark: SparkSession, dir: String): DataFrame = {
    // the nanosAsLong flag is SESSION-GLOBAL and one-way for the reads
    // it enables, so set it only when this table actually carries
    // TIMESTAMP(NANOS) — probing by attempting the plain read first
    // (schema conversion is eager and fails loudly on nanos without
    // the flag). Unconditionally setting it silently changed how a
    // user's own nanos parquet loaded for the session's lifetime
    // (r7 review); on micros-encoded tables (driver rounds >= 5) the
    // flag is now never touched.
    val raw =
      try spark.read.parquet(path(dir, "events"))
      catch {
        case e: Exception if isNanosTypeError(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path(dir, "events"))
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Is `e` the unsupported-TIMESTAMP(NANOS) schema-conversion error?
    * Decided on the STRUCTURED error condition first
    * (`SparkThrowable.getCondition` — Spark raises the nanos case as an
    * `AnalysisException` whose condition names the illegal parquet
    * type), with the message text only as a fallback: message wording
    * varies across Spark versions, and a rewording must degrade to
    * "try the structured check", not to "nanos tables fail to load"
    * (r7 advice). */
  private def isNanosTypeError(e: Throwable): Boolean = {
    val condition = e match {
      case st: org.apache.spark.SparkThrowable => String.valueOf(st.getCondition)
      case _ => ""
    }
    val msg = String.valueOf(e.getMessage)
    // the condition alone is NOT enough (r10 review: any other illegal
    // parquet type raises the same *_PARQUET_TYPE condition, and the
    // catch then set the session-global nanosAsLong flag as a side
    // effect of an unrelated failure — the exact leak the r7 fix
    // removed). The message must actually name the NANOS encoding.
    (condition.toUpperCase.contains("PARQUET_TYPE") ||
      msg.toLowerCase.contains("illegal parquet type")) &&
    msg.toUpperCase.contains("NANOS")
  }
}
