package graft.tools

import org.apache.spark.sql.functions._

/** sf1-scale probe for the EVENTS plane (r14; the [[DagSf1]] /
  * [[CapstoneSf1]] replication idiom applied to the last expensive
  * family with no sf1 evidence): the behavioral-analytics heavies —
  * rfm (two-phase global ranks), sessions (per-user gap windows),
  * interval_join (time-overlap join), scd2 (interval tiling),
  * funnel_steps (ordered conversion) — run over the sf0.1 events
  * table replicated R× with DISJOINT user-id shifts.
  *
  * The shift preserves every per-user structure these operators key
  * on (event order, inter-arrival gaps, type mix) while scaling the
  * USER population — the honest shape of a 100× event-log scale-up
  * (more users, same window), and exactly the axis that breaks
  * badly-partitioned plans: per-user windows must stay partitioned,
  * global ranks must stay two-phase, overlap joins must not go
  * quadratic in users. event_id shifts keep global uniqueness.
  *
  * For each operator: cold wall, warm best-of-3, output rows, and the
  * fail-loud sf1 plan audit ([[CapstoneSf1.auditPlan]]).
  *
  * Run: `sbt "runMain graft.tools.EventsSf1 [dir] [replicas]"`
  * (default /tmp/graft_sf1_events, 100 → 10 M events / 150 k users).
  */
object EventsSf1 {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1_events")
    val r = args.lift(1).map(_.toInt).getOrElse(100)
    val srcSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      val src = spark.read.parquet(s"$srcSf/events.parquet")
      // Replica id-space strides DERIVED from the source (r14 ADVICE:
      // the old fixed 10000/1e9 strides silently collided replica id
      // spaces when SPARK_GRAFT_SF_DIR pointed at a larger dataset,
      // corrupting the user-scale claim this probe exists to measure).
      // One tiny agg job over two columns, then a power-of-10 stride
      // past the max so replica ids stay human-readable.
      val mx = src.agg(max("user_id"), max("event_id")).head()
      def stride(maxId: Long): Long = {
        require(maxId >= 0, s"negative source id $maxId — replication shift undefined")
        var s = 1L
        while (s <= maxId) s *= 10
        s
      }
      val userStride = stride(mx.getLong(0))
      val eventStride = stride(mx.getLong(1))
      require(BigInt(eventStride) * r <= Long.MaxValue,
        s"event_id stride $eventStride x $r replicas overflows Long")
      val reps = spark.range(r).toDF("rep")
      src.crossJoin(reps)
        .withColumn("user_id", col("user_id") + col("rep") * userStride)
        .withColumn("event_id", col("event_id") + col("rep") * eventStride)
        .drop("rep")
        .repartition(32).write.parquet(s"$dir/events.parquet")
      println(s"[events-sf1] wrote ${r}x $srcSf events to $dir " +
        s"(user stride $userStride, event stride $eventStride)")
    }
    spark.range(1000).count() // scheduler warm-up
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select(countDistinct("user_id")).head().getLong(0)
    println(s"[events-sf1] events=$n users=$users replicas=$r")
    val names = Seq("ns_events_rfm", "ns_sessions", "ns_events_interval_join",
      "ns_events_scd2", "ns_events_funnel_steps")
    for (name <- names) {
      val q = graft.SparkEntry.queries(name)
      val (n1, cold) = time { q(spark, dir).count() }
      val warm = (0 until 3).map(_ => time { q(spark, dir).count() }._2).min
      CapstoneSf1.auditPlan(name, q(spark, dir))
      println(f"[events-sf1] $name events=$n%d out_rows=$n1%d " +
        f"cold=$cold%.2fs warm_best3=$warm%.2fs")
    }
    spark.stop()
  }
}
