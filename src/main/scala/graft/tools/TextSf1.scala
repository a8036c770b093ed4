package graft.tools

import org.apache.spark.sql.functions._

/** sf1-scale probe for the TEXT/CLASSIFIER plane (r14 verdict #5; the
  * [[EventsSf1]] replication idiom applied to the last expensive family
  * with no at-scale receipts): the iterative text-ML trio —
  * perceptron (8 exact-integer training iterations over a cached
  * doc-vector frame), pmi (broadcast-vocab co-occurrence), dsir
  * (256-bucket importance model + join-free rowwise scoring) — run
  * over the sf0.1 documents table replicated R× with DISJOINT doc-id
  * shifts.
  *
  * The shift preserves every per-document structure these operators
  * key on (token sequences, bigram sets, lang labels, the en/-en
  * class balance) while scaling the CORPUS population — the axis that
  * breaks badly-shaped text plans: per-doc aggregates must stay
  * map-side partial, models must stay driver-sized (256 buckets / V
  * vocab rows) however large the corpus, and training iterations must
  * move weight DELTAS, never corpus rows. doc_id strides are derived
  * from the source max (the [[EventsSf1]] r14-ADVICE convention), so
  * replica id spaces never collide whatever SPARK_GRAFT_SF_DIR holds.
  *
  * For each operator: cold wall, warm best-of-3, output rows, and the
  * fail-loud sf1 plan audit ([[CapstoneSf1.auditPlan]]: no cartesian,
  * no corpus-shaped nested loop, no unpartitioned window).
  *
  * Run: `sbt "runMain graft.tools.TextSf1 [dir] [replicas]"`
  * (default /tmp/graft_sf1_text, 100 → 500 k documents).
  */
object TextSf1 {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1_text")
    val r = args.lift(1).map(_.toInt).getOrElse(100)
    val srcSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val src = spark.read.parquet(s"$srcSf/documents.parquet")
      val maxId = src.agg(max("doc_id")).head().getLong(0)
      require(maxId >= 0, s"negative source doc_id $maxId — replication shift undefined")
      var stride = 1L
      while (stride <= maxId) stride *= 10
      require(BigInt(stride) * r <= Long.MaxValue,
        s"doc_id stride $stride x $r replicas overflows Long")
      val reps = spark.range(r).toDF("rep")
      src.crossJoin(reps)
        .withColumn("doc_id", col("doc_id") + col("rep") * stride)
        .drop("rep")
        .repartition(32).write.parquet(s"$dir/documents.parquet")
      println(s"[text-sf1] wrote ${r}x $srcSf documents to $dir (doc stride $stride)")
    }
    spark.range(1000).count() // scheduler warm-up
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val langs = docs.groupBy("lang").count().orderBy("lang").collect()
      .map(row => s"${row.getString(0)}:${row.getLong(1)}").mkString(" ")
    println(s"[text-sf1] docs=$n replicas=$r langs=[$langs]")
    val names = Seq("ns_text_perceptron", "ns_text_pmi", "ns_text_dsir")
    for (name <- names) {
      val q = graft.SparkEntry.queries(name)
      val (n1, cold) = time { q(spark, dir).count() }
      val warm = (0 until 3).map(_ => time { q(spark, dir).count() }._2).min
      CapstoneSf1.auditPlan(name, q(spark, dir))
      println(f"[text-sf1] $name docs=$n%d out_rows=$n1%d " +
        f"cold=$cold%.2fs warm_best3=$warm%.2fs")
    }
    spark.stop()
  }
}
