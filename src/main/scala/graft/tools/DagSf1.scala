package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Fixtures

/** sf1-scale probe for the ITERATIVE DAG family (r13 verdict #7):
  * pagerank, closure, critical_path, kcore, triangles — the one
  * expensive family that had no sf1 evidence yet, and the plans where
  * a 100× scale-up hides barriers that single-pass operators don't
  * have: lineage growth across iterations, checkpoint pressure,
  * per-iteration shuffle volume.
  *
  * Dataset: the [[CapstoneSf1]] replication idiom applied to the
  * graph plane — the fixture trigger DAG id-shift-replicated into R
  * DISJOINT copies (`uuid#r`), which preserves every per-component
  * structural invariant (depth, degree profile, acyclicity) while
  * scaling VOLUME by R. That is the honest catalog-scale shape: a
  * 10⁶-pipeline deployment is many independent team DAGs, not one
  * 10⁶-node chain — per-iteration shuffles see R× the rows while the
  * iteration COUNT stays the fixture's (closure/critical-path
  * fixpoints are depth-bounded; pagerank/kcore are fixed-iteration by
  * construction), exactly how these operators are documented to scale.
  *
  * For each operator: cold wall, warm best-of-3, output rows, and the
  * sf1 PLAN AUDIT ([[CapstoneSf1.auditPlan]]: no cartesian, no
  * corpus-side nested loop, no unpartitioned window — fail-loud).
  *
  * Run: `sbt "runMain graft.tools.DagSf1 [replicas]"` (default 100000
  * ≈ 2.8 M directed edges / 2.4 M nodes from the 24-node fixture).
  */
object DagSf1 {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixture edges replicated R× with disjoint `#r` id suffixes —
    * generated map-side from literals (the fixture edge list is
    * catalog-sized), never a stored table. */
  private def directed(spark: SparkSession, r: Long): DataFrame = {
    val fixture = Fixtures.edgesDS(spark)
      .select(col("trigger_uuid").as("src"), col("pipeline_uuid").as("dst"))
      .distinct().collect().map(x => (x.getString(0), x.getString(1)))
    val arr = array(fixture.map { case (s, d) =>
      struct(lit(s).as("src"), lit(d).as("dst")) }: _*)
    spark.range(r).select(col("id"), explode(arr).as("e"))
      .select(concat(col("e.src"), lit("#"), col("id")).as("src"),
        concat(col("e.dst"), lit("#"), col("id")).as("dst"))
      .repartition(32)
  }

  private def undirected(spark: SparkSession, r: Long): DataFrame =
    directed(spark, r)
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  def main(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toLong).getOrElse(100000L)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000).count() // scheduler warm-up
    val nEdges = directed(spark, r).count()
    val nUnd = undirected(spark, r).count()
    println(s"[dag-sf1] replicas=$r directed_edges=$nEdges undirected_edges=$nUnd")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ns_dag_pagerank" -> (() =>
        graft.operators.MetaQueries.pageRankCore(directed(spark, r))),
      "ns_dag_closure" -> (() =>
        graft.operators.MetaQueries.dagClosureCore(directed(spark, r))),
      "ns_dag_critical_path" -> (() =>
        graft.operators.MetaQueries.criticalPathCore(directed(spark, r))),
      "ns_dag_kcore" -> (() =>
        graft.operators.MetaQueries.corenessCore(undirected(spark, r))),
      "ns_dag_triangles" -> (() =>
        graft.operators.MetaQueries.triangleCore(undirected(spark, r))))
    for ((name, build) <- ops) {
      val (n1, cold) = time { build().count() }
      val warm = (0 until 3).map(_ => time { build().count() }._2).min
      CapstoneSf1.auditPlan(name, build())
      println(f"[dag-sf1] $name replicas=$r out_rows=$n1%d " +
        f"cold=$cold%.2fs warm_best3=$warm%.2fs")
      // the cores cache their injected edge frames; drop them between
      // operators so five graphs don't stack up in storage memory
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
