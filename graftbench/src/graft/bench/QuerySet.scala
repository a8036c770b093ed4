package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.OpMemo

/** The data plane: a fixed list of registered queries (`SparkEntry.queries`)
  * run the way a `graft-query` pipeline run pays for them. Each row is
  * built by its `fn(spark, dir)` and materialized with
  * `write.format("noop")`; `OpMemo.invalidate` runs before every pass, so
  * memo builds are priced as they are when a run's input dir changes.
  *
  * The first pass of a run is the cold one: it also checks every row's
  * count and order-insensitive digest against `expected/query_digests.tsv`.
  * A row that throws or differs is counted as failed and kept out of every
  * timing. */
object QuerySet {

  /** Execution-heavy rows (source overlap, profile, language id, the event
    * joins and sessions, a star join), memo rows (the vector rows), a
    * construct-heavy DAG row and two tiny plan-bound metadata rows: about
    * 15 s a warm pass over `data/sf0.01` on 4 cores. */
  val Rows: Seq[String] = Seq(
    "ns_dedup_source_overlap", "ns_profile", "ns_text_langid", "ns_events_interval_join",
    "ns_events_lift", "ns_sessions", "k20_revenue_by_nation", "ns_vec_semdedup",
    "ns_vec_topk_ivfpq", "ns_dag_critical_path", "k07_concurrency_gate", "k18_deps_satisfied")

  /** Warm passes after the cold one; per-row figures are their medians.
    * One keeps the traced run well inside its time limit. */
  val WarmPasses = 1

  /** One row of one pass. Times in ms; `plan` is the analysis, optimization
    * and planning phases of every query execution the row ran. */
  final case class RowRun(name: String, constructMs: Double, execMs: Double, planMs: Double,
      codegenMs: Double, jobs: Long, stages: Long, tasks: Long, taskCpuMs: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double) {
    def ms: Double = constructMs + execMs
  }

  /** A pass: its rows, the rows that failed, and the memo entries (frames,
    * scalars, plan handles) its rows built.
    * Its wall is the sum of its rows' walls, so a failed row (and the cold
    * pass's digest checks) stay out of it. */
  final case class Pass(rows: Seq[RowRun], failed: Seq[String], memoBuilds: Int) {
    def wallMs: Double = rows.map(_.ms).sum
  }

  /** Session-wide counters the rows are measured by. */
  final class Counters(spark: SparkSession) {
    val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill, planMs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          cpuNs.addAndGet(m.executorCpuTime)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
      private def add(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        planMs.addAndGet(Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum)
        ()
      }
    })

    def snapshot: Seq[Long] = {
      graft.Bench.drainListenerBus(spark)
      Seq(jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill, planMs).map(_.get()) :+
        CodeGenerator.compileTime
    }
  }

  /** Run one row: (construct ms, noop-write ms, the frame). Throws what
    * the query throws. */
  def timeRow(spark: SparkSession, run: (SparkSession, String) => DataFrame,
      dir: String): (Double, Double, DataFrame) = {
    val t0 = System.nanoTime()
    val df = run(spark, dir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (((t1 - t0) / 1e6), (System.nanoTime() - t1) / 1e6, df)
  }

  /** One pass over `order`. `counters` reads [[Counters.snapshot]];
    * `check` verifies a row's frame (cold pass). */
  def pass(spark: SparkSession, dir: String, order: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame], counters: () => Seq[Long],
      check: (String, DataFrame) => Option[String]): Pass = {
    OpMemo.invalidate(spark)
    val rows = ArrayBuffer.empty[RowRun]
    val failed = ArrayBuffer.empty[String]
    order.foreach { name =>
      val c0 = counters()
      val res =
        try {
          val (construct, exec, df) = OpMemo.withBuildTag(name)(timeRow(spark, queries(name), dir))
          val d = counters().zip(c0).map { case (a, b) => a - b }
          val run = RowRun(name, construct, exec, d(7).toDouble, d(8) / 1e6, d(0), d(1), d(2),
            d(3) / 1e6, d(4) / 1048576.0, d(5) / 1048576.0, d(6) / 1048576.0)
          System.err.println(f"[graftbench] query $name%-26s construct ${construct}%7.0f exec ${exec}%7.0f ms")
          check(name, df).map(Left(_)).getOrElse(Right(run))
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      res match {
        case Right(run) => rows += run
        case Left(err) =>
          System.err.println(s"[graftbench] query $name failed: ${err.take(300)}")
          failed += name
      }
    }
    Pass(rows.toSeq, failed.toSeq, OpMemo.builds(spark, dir).size)
  }

  // ---- correctness: row count and an order-insensitive digest -------------

  /** A value as text, doubles rounded to 6 significant digits, so that
    * summation order in an aggregate does not change the digest. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => roundSig(d)
    case f: Float => roundSig(f.toDouble)
    case b: java.math.BigDecimal => roundSig(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def roundSig(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString

  /** (row count, digest): the sum of per-row hashes, so row order does
    * not matter but every row does. */
  def digest(rows: Iterator[Row]): (Long, String) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val c = canon(r)
      n += 1
      h += scala.util.hashing.MurmurHash3.stringHash(c).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(c, 0x5bd1e995).toLong
    }
    (n, f"$h%016x")
  }

  /** `name -> (count, digest)` from the recorded file. */
  def expected(path: java.nio.file.Path): Map[String, (Long, String)] =
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong, f(2))
      }.toMap

  /** A check against recorded digests; `record` collects what it saw. */
  def checker(want: Map[String, (Long, String)],
      record: ArrayBuffer[(String, Long, String)]): (String, DataFrame) => Option[String] = { (name, df) =>
    val (n, d) = digest(df.toLocalIterator().asScala)
    record += ((name, n, d))
    want.get(name) match {
      case None => Some(s"no recorded digest for $name")
      case Some((wn, wd)) if wn != n || wd != d => Some(s"$name: $n rows digest $d, want $wn rows digest $wd")
      case _ => None
    }
  }
}

/** The query set as the traced `mq_backlog` run drives it: a cold pass
  * that also checks every row, then `QuerySet.WarmPasses` warm passes, each
  * in a seeded row order. */
final case class QueryRun(cold: QuerySet.Pass, warm: Seq[QuerySet.Pass]) {
  def passes: Seq[QuerySet.Pass] = cold +: warm
  def attempted: Long = passes.map(p => p.rows.size + p.failed.size).sum.toLong
  def failed: Long = passes.map(_.failed.size).sum.toLong
}

object QueryRun {

  def run(spark: org.apache.spark.sql.SparkSession, a: Main.Args, rnd: scala.util.Random,
      problems: ArrayBuffer[String]): QueryRun = {
    val dir = new java.io.File(a.dataDir).getCanonicalPath
    val want = QuerySet.expected(java.nio.file.Paths.get(a.expected))
    val seen = ArrayBuffer.empty[(String, Long, String)]
    val queries = graft.SparkEntry.queries
    val counters = new QuerySet.Counters(spark)
    def snap() = counters.snapshot
    val t0 = System.nanoTime()
    val cold = QuerySet.pass(spark, dir, rnd.shuffle(QuerySet.Rows), queries, snap _,
      QuerySet.checker(want, seen))
    val warm = (0 until QuerySet.WarmPasses).map { _ =>
      QuerySet.pass(spark, dir, rnd.shuffle(QuerySet.Rows), queries, snap _, (_, _) => None)
    }
    a.digestsOut.foreach { path =>
      val lines = "# row\tcount\tdigest" +: seen.sortBy(_._1).map { case (n, c, d) => s"$n\t$c\t$d" }
      java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
    }
    val out = QueryRun(cold, warm)
    out.passes.flatMap(_.failed).distinct.foreach(n => problems += s"query row failed: $n")
    System.err.println(f"[graftbench] query set: cold ${cold.wallMs / 1e3}%.1f s, warm " +
      warm.map(p => f"${p.wallMs / 1e3}%.1f").mkString(",") + f" s, phase ${(System.nanoTime() - t0) / 1e9}%.1f s")
    out
  }

  /** Per-layer metrics of the query set; zeros where the run had none. */
  def metrics(q: Option[QueryRun]): Seq[(String, Metric)] = {
    def med(f: QuerySet.Pass => Double): Double =
      q.filter(_.warm.nonEmpty).map(r => Stats.median(r.warm.map(f))).getOrElse(0.0)
    def total(f: QuerySet.RowRun => Double): Double = med(_.rows.map(f).sum)
    def rowMs(name: String): Double = q.map(_.warm.flatMap(_.rows.filter(_.name == name).map(_.ms)))
      .filter(_.nonEmpty).map(Stats.median).getOrElse(0.0)
    val rowMedians = QuerySet.Rows.map(rowMs).filter(_ > 0)
    val geomean =
      if (rowMedians.isEmpty) 0.0 else math.exp(rowMedians.map(math.log).sum / rowMedians.size)
    Seq(
      "query.cold_pass_s" -> Metric(q.map(_.cold.wallMs / 1e3).getOrElse(0.0), "s"),
      "query.pass_s" -> Metric(med(_.wallMs) / 1e3, "s"),
      "query.geomean_ms" -> Metric(geomean, "ms"),
      "query.construct_ms" -> Metric(total(_.constructMs), "ms"),
      "query.plan_ms" -> Metric(total(_.planMs), "ms"),
      "query.exec_ms" -> Metric(total(_.execMs), "ms"),
      "query.codegen_ms" -> Metric(total(_.codegenMs), "ms"),
      "query.jobs" -> Metric(total(_.jobs.toDouble), "count"),
      "query.stages" -> Metric(total(_.stages.toDouble), "count"),
      "query.tasks" -> Metric(total(_.tasks.toDouble), "count"),
      "query.task_cpu_ms" -> Metric(total(_.taskCpuMs), "ms"),
      "query.shuffle_read_mb" -> Metric(total(_.shuffleReadMb), "MB"),
      "query.shuffle_write_mb" -> Metric(total(_.shuffleWriteMb), "MB"),
      "query.spill_mb" -> Metric(total(_.spillMb), "MB"),
      "query.memo_builds" -> Metric(med(_.memoBuilds.toDouble), "count")) ++
      QuerySet.Rows.map(n => s"query.row.${n}_ms" -> Metric(rowMs(n), "ms"))
  }
}
