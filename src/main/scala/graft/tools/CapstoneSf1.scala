package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 scale probe for the three COMPOSED capstones (r12 verdict #8):
  * `ns_pipeline_funnel`, `ns_mm_corpus_funnel`, `ns_recall_report` —
  * the plans where a 100× scale-up would surface a hidden barrier
  * (an accidental cartesian, a window over the corpus, a driver-side
  * collect) first, because they compose 5–6 registered operators each.
  *
  * Dataset: sf0.1 replicated 10× with id shifts that PRESERVE every
  * id-derived structure the fixtures encode — shift = r·6,000,000, a
  * multiple of lcm(15, 10, 4, 3) = 60, so doc_id%3 (modality),
  * doc_id%15 (planted media groups), doc_id%10 (probe split) and
  * vec_id%4 (planted vector bases) all survive. Replicated TEXT is
  * byte-identical across replicas, so the near-dup plane sees real
  * 10×-bigger clusters — the honest crawl-scale shape (exact dups
  * dominate real crawls).
  *
  * For each capstone: cold wall, warm best-of-3, and the sf1 PLAN
  * AUDIT (no CartesianProduct / BroadcastNestedLoopJoin / corpus
  * Window — the PlanShapeSpec invariants re-asserted on the sf1
  * plans, fail-loud). The DuckDB ratio side is
  * tools/capstone_sf1.py over the same files (timeout-bounded: the
  * funnel oracles are blocked-all-pairs + recursive-CTE SQL whose
  * cost explodes at sf1 — that asymmetry is the result, not a
  * failure).
  *
  * Run: `sbt "runMain graft.tools.CapstoneSf1 /tmp/graft_sf1_caps"`
  */
object CapstoneSf1 {
  val queries = Seq(
    graft.operators.Curation.funnel,
    graft.operators.Multimodal.corpusFunnel,
    graft.operators.RecallReport.recallReport)

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The sf1-plan invariants: the barriers that would sink a 100×
    * scale-up must be absent AT sf1, not just at the spec fixture.
    * A BroadcastNestedLoopJoin is allowed ONLY when both inputs are
    * global (group-less) aggregates — a scalar×scalar combine like
    * RecallReport's `expected.crossJoin(found)` is 1×1 rows at any
    * SF; any BNLJ touching a corpus-shaped side still fails. */
  private[tools] def auditPlan(name: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def scalarShaped(p: SparkPlan): Boolean = unwrap(p) match {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case other => other.children.length == 1 && scalarShaped(other.children.head)
    }
    def walk(p: SparkPlan): Unit = {
      unwrap(p) match {
        case j: BroadcastNestedLoopJoinExec =>
          require(scalarShaped(j.left) || scalarShaped(j.right),
            s"$name plans a nested loop with a corpus-shaped side at sf1:\n$j")
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          // a PARTITIONED window (band buckets, user keys…) has bounded
          // per-partition work; the 100 TB barrier is the UNPARTITIONED
          // window — one task sorting the world
          require(w.partitionSpec.nonEmpty,
            s"$name plans an unpartitioned (global) window at sf1:\n$w")
        case _ => ()
      }
      unwrap(p).children.foreach(walk)
    }
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    require(!s.contains("CartesianProduct"), s"$name plans a cartesian at sf1")
    walk(plan)
    println(s"[caps-sf1] $name plan audit OK (no cartesian / corpus nested-loop / global window)")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1_caps")
    val srcSf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val shift = 6000000L // multiple of 60: preserves %3 %15 %10 %4
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val reps = spark.range(factor).toDF("rep")
      val docs = spark.read.parquet(s"$srcSf/documents.parquet")
      docs.crossJoin(reps)
        .withColumn("doc_id", col("doc_id") + col("rep") * shift).drop("rep")
        .repartition(32).write.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$srcSf/embeddings.parquet")
      emb.crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("rep") * shift).drop("rep")
        .repartition(8).write.parquet(s"$dir/embeddings.parquet")
      println(s"[caps-sf1] wrote ${factor}x $srcSf documents+embeddings to $dir (shift=$shift)")
    }
    spark.range(1000).count() // scheduler warm-up
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    for (q <- queries) {
      val (n1, cold) = time { q.run(spark, dir).count() }
      val warm = (0 until 3).map(_ => time { q.run(spark, dir).count() }._2).min
      auditPlan(q.name, q.run(spark, dir))
      println(f"[caps-sf1] ${q.name} dir=$dir docs=$nDocs%d out_rows=$n1%d " +
        f"cold=$cold%.2fs warm_best3=$warm%.2fs")
    }
    // dump the three oracle SQLs for the python ratio side
    val oracles = queries.map(q => s""""${q.name}": ${jstr(q.oracle.get)}""")
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "capstone_oracle.json"),
      oracles.getBytes("UTF-8"))
    spark.stop()
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
