package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`: the median-of-reps statistic, the budget stop, the
  * per-pass incremental artifact, the warm pass and failing rows —
  * driven through [[Bench.run]] on the shared test session — plus the
  * fields the committed `BENCH_SELF.json` must carry. */
class BenchSpec extends AnyFunSuite {

  /** [[Bench.run]] into `out` with `knobs` set as system properties
    * (props win over the environment); returns the artifact and stdout. */
  private def runBench(out: String, knobs: (String, String)*): (String, String) = {
    knobs.foreach { case (k, v) => sys.props(k) = v }
    val buf = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Bench.run(SparkSuite.spark, out)
    } finally knobs.foreach { case (k, _) => sys.props.remove(k) }
    val artifact = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "BENCH_FOCUS.json")), "UTF-8")
    (artifact, buf.toString("UTF-8"))
  }

  test("committed artifact is self-adjudicating: host fingerprint and per-row runs (r12 verdict #2)") {
    // the r12 driver-vs-self disagreement was unadjudicable because no
    // artifact recorded host identity or per-row variance — these
    // fields are now load-bearing for every cross-round comparison,
    // so their presence in the COMMITTED artifact is pinned
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_SELF.json")), "UTF-8")
    for (f <- Seq("\"host\":", "\"cpu_model\":", "\"kernel\":", "\"page_cache_mb\":",
                  "\"runs\":", "\"warm_pass\":", "\"reps\":"))
      assert(text.contains(f), s"committed BENCH_SELF.json must carry $f")
    // every registered query has a runs array with >= 2 recorded reps
    val runsBlock = text.substring(text.indexOf("\"runs\":"))
    val arrays = "\"([A-Za-z0-9_]+)\":\\[([0-9.,Ee+-]+)\\]".r
      .findAllMatchIn(runsBlock)
      .map(m => m.group(1) -> m.group(2).split(",").length).toMap
    val names = SparkEntry.queries.keySet
    assert(names.forall(arrays.contains),
      s"rows missing runs arrays: ${names -- arrays.keySet}")
    assert(arrays.filter(kv => names(kv._1)).values.forall(_ >= 2),
      "each row must record at least 2 reps for variance adjudication")
    // host fingerprint values must be non-empty (a fingerprint of
    // 'na's for EVERY field would defeat the adjudication purpose)
    assert("\"cpu_model\":\"[^\"]{3,}\"".r.findFirstIn(text).isDefined,
      "cpu_model must carry a real value")
  }

  test("median of reps is the canonical statistic (r13 verdict #2)") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even count -> mean of middles")
    assert(Bench.median(Seq(7.0)) == 7.0)
    assert(Bench.median(Seq.empty) == 0.0)
    // a single outlier rep must not move the statistic (the min did)
    assert(Bench.median(Seq(0.5, 0.51, 0.52, 0.49, 70.0)) == 0.51)
  }

  test("committed artifact is self-DIAGNOSING: heap/GC/steal/eviction counters + median stat (r13 verdict #1/#2)") {
    // the r12 thrash and the r13 residual were both adjudicated by
    // counters OUTSIDE the artifact; these fields make the next
    // disagreement settle from the file alone, so they are pinned
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_SELF.json")), "UTF-8")
    for (f <- Seq("\"stat\":\"median\"", "\"jvm_max_heap_mb\":", "\"pass_stats\":[",
                  "\"gc_ms\":", "\"steal_ticks\":", "\"evicted_blocks\":",
                  "\"heap_used_mb\":", "\"storage_used_mb\":",
                  // r14 verdict #1/#3/#6: budget accounting, warm-pass
                  // wall, and the per-pass task≫cpu contention meter
                  // are now load-bearing for cross-round adjudication
                  "\"reps_completed\":", "\"budget_s\":", "\"warm_pass_s\":",
                  "\"pass_wall_s\":", "\"task_ms\":", "\"task_cpu_ms\":"))
      assert(text.contains(f), s"committed BENCH_SELF.json must carry $f")
    // one pass-stat object per COMPLETED rep (r15: a budget stop may
    // record fewer than the requested reps; the file says how many)
    val reps = "\"reps\":(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt).get
    assert(reps >= 5, s"canonical runs use >=5 interleaved reps, got $reps")
    val repsCompleted =
      "\"reps_completed\":(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt).get
    assert(repsCompleted >= 3 && repsCompleted <= reps,
      s"committed artifact needs >=3 completed passes for an honest median, got $repsCompleted")
    val nPassStats = "\\{\"gc_ms\":".r.findAllIn(text).length
    assert(nPassStats == repsCompleted,
      s"expected $repsCompleted pass_stats objects, got $nPassStats")
    // the flat queries value IS the median of the recorded runs
    val qBlock = text.substring(text.indexOf("\"queries\":"), text.indexOf("\"sf\":"))
    val flat = "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(qBlock)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val runsBlock = text.substring(text.indexOf("\"runs\":"))
    val runs = "\"([A-Za-z0-9_]+)\":\\[([0-9.,Ee+-]+)\\]".r.findAllMatchIn(runsBlock)
      .map(m => m.group(1) -> m.group(2).split(",").map(_.toDouble).toSeq).toMap
    val names = SparkEntry.queries.keySet
    val checked = names.toSeq.filter(n => flat.contains(n) && runs.contains(n))
    assert(checked.size > 100, s"expected >100 rows with flat+runs, got ${checked.size}")
    checked.foreach { n =>
      assert(math.abs(flat(n) - Bench.median(runs(n))) < 1e-9,
        s"$n: queries value ${flat(n)} != median of runs ${runs(n)}")
    }
  }

  test("budget early-stop predicate (r14 verdict #1a)") {
    // never stops before the first measured pass — an artifact with
    // zero recorded passes adjudicates nothing, whatever the budget
    assert(!Bench.shouldStop(elapsedS = 9999, lastPassWallS = 9999, budgetS = 1, passesDone = 0))
    // stops when the projected next pass would overrun
    assert(Bench.shouldStop(elapsedS = 1500, lastPassWallS = 400, budgetS = 1800, passesDone = 3))
    // continues while the projection fits
    assert(!Bench.shouldStop(elapsedS = 1000, lastPassWallS = 300, budgetS = 1800, passesDone = 3))
    // boundary: projection exactly at budget still runs (stop is >)
    assert(!Bench.shouldStop(elapsedS = 1400, lastPassWallS = 400, budgetS = 1800, passesDone = 2))
  }

  test("run(): budget stop + incremental flush leave a parseable artifact per pass (r14 verdict #1)") {
    // 4 requested reps against a budget only one pass can fit must
    // yield reps_completed < reps with a valid artifact and a summary
    // line per completed pass — the r14 kill left NOTHING parseable.
    // The warm pass is itself bounded by the budget, so the 1 ms budget
    // runs a selection that matches no row: the pass loop, the stop
    // predicate and the flush still run, and no warm lane can time out.
    val out = SparkSuite.tempDir("benchmain")
    val (a1, s1) = runBench(out,
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "no_such_row",
      "SPARK_GRAFT_BENCH_REPS" -> "4",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "0.001")
    assert(a1.contains("\"reps\":4") && a1.contains("\"reps_completed\":1"),
      s"expected an early stop after exactly 1 of 4 passes, artifact: ${a1.take(300)}")
    assert(s1.linesIterator.count(_.contains("\"queries_file\":\"BENCH_FOCUS.json\"")) == 1,
      "one summary line per completed pass, naming the focused artifact (r14 ADVICE)")
    // ample budget: all 4 passes complete, one flush + summary per pass
    val (a2, s2) = runBench(out,
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts,k04_point_lookup",
      "SPARK_GRAFT_BENCH_REPS" -> "4",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "100000")
    assert(a2.contains("\"reps_completed\":4"), s"expected 4 completed passes: ${a2.take(300)}")
    assert(s2.linesIterator.count(_.contains("\"queries_file\":\"BENCH_FOCUS.json\"")) == 4,
      "incremental flush must reprint the summary after every completed pass")
    val runsArr = "\"k01_table_counts\":\\[([0-9.,Ee+-]+)\\]".r.findFirstMatchIn(a2)
      .map(_.group(1).split(",").length)
    assert(runsArr.contains(4), s"4 completed passes -> 4 recorded reps, got $runsArr")
    for (f <- Seq("\"warm_pass_s\":", "\"budget_s\":", "\"pass_wall_s\":",
                  "\"task_ms\":", "\"task_cpu_ms\":", "\"attribution_settle\":",
                  // r15 verdict #4 / next-round #2: effective parallelism
                  // must be stated in-artifact AND in the stdout summary
                  "\"cpus\":", "\"default_parallelism\":", "\"shuffle_partitions\":"))
      assert(a2.contains(f), s"focused artifact must carry $f")
    for (f <- Seq("\"cpus\":", "\"default_parallelism\":", "\"shuffle_partitions\":"))
      assert(s2.contains(f), s"stdout summary must carry $f")
  }

  test("run(): warm pass records per-query cold walls as warm_runs, and prices only this run's memo builds") {
    // a build tag left on the shared session by an earlier run over the
    // same dir must not reach this run's memo_paid: run() clears the
    // dir's memo first
    graft.operators.OpMemo.withBuildTag("stale_bench_run") {
      graft.operators.OpMemo.cachedLong(SparkSuite.spark, SparkSuite.sfDir, "benchspec:stale")(1L)
    }
    val (a, _) = runBench(SparkSuite.tempDir("benchwarm"),
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts,k04_point_lookup",
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "100000")
    assert(a.contains("\"warm_parallelism\":4"), s"artifact must state the warm lane count: ${a.take(200)}")
    for (q <- Seq("k01_table_counts", "k04_point_lookup"))
      assert(("\"warm_runs\":\\{[^}]*\"" + q + "\":[0-9.]+").r.findFirstIn(a).isDefined,
        s"warm_runs must carry a cold wall for $q")
    assert(!a.contains("stale_bench_run") && !a.contains("benchspec:stale"),
      s"memo_paid must not carry an earlier run's build: ${a.take(600)}")
  }

  test("run(): a failing row is recorded under errors, never as a wall in the total") {
    // an empty SF dir: every table read throws, so k01_table_counts fails
    val (a, summary) = runBench(SparkSuite.tempDir("bencherr"),
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.tempDir("bench-empty-sf"),
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts",
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "100000")
    assert("\"errors\":\\{\"k01_table_counts\":\"[^\"]+".r.findFirstIn(a).isDefined,
      s"the failing row must be recorded under errors: ${a.take(400)}")
    assert(a.contains("\"value\":0.0,") && a.contains("\"queries\":{}"),
      s"a failing row must stay out of the total: ${a.take(400)}")
    assert(!a.contains("\"k01_table_counts\":["), "no runs array for a failing row")
    assert(!("\"warm_runs\":\\{[^}]*k01_table_counts").r.findFirstIn(a).isDefined,
      "no warm wall for a failing row")
    assert(summary.contains("\"n_errors\":1") && summary.contains("\"n_queries\":0"),
      s"the stdout summary must count the failure: $summary")
  }

  test("run(): a warm pass still running at the budget writes the artifact, unfinished rows under errors, then fails") {
    val out = SparkSuite.tempDir("benchwarmbudget")
    val rows = Seq("k01_table_counts", "k04_point_lookup")
    val e = intercept[IllegalStateException] {
      runBench(out, "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
        "SPARK_GRAFT_BENCH_ONLY" -> rows.mkString(","),
        "SPARK_GRAFT_BENCH_REPS" -> "1",
        "SPARK_GRAFT_BENCH_BUDGET_S" -> "0.001")
    }
    assert(e.getMessage.contains("warm pass still running"), e.getMessage)
    val a = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "BENCH_FOCUS.json")), "UTF-8")
    assert(a.contains("\"reps_completed\":0") && a.contains("\"queries\":{}"), a.take(400))
    val unfinished = rows.filter(q =>
      ("\"errors\":\\{[^}]*\"" + q + "\":\"warm pass still running").r.findFirstIn(a).isDefined)
    assert(unfinished.nonEmpty, s"the unfinished rows must be recorded under errors: $a")
    assert(rows.forall(q => unfinished.contains(q) ||
      ("\"warm_runs\":\\{[^}]*\"" + q + "\":[0-9.]+").r.findFirstIn(a).isDefined),
      s"every row is either finished (warm_runs) or under errors: $a")
  }

  test("Bench reads exactly five SPARK_GRAFT_ knobs") {
    // drift guard: a knob only a spec sets is an option no deployed run
    // uses; the bench's inputs are these five
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src", "main", "scala", "graft", "Bench.scala")), "UTF-8")
    val knobs = "SPARK_GRAFT_[A-Z_]+".r.findAllIn(src).toSet
    assert(knobs == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_BUDGET_S",
      "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_REPS"), s"Bench.scala names $knobs")
  }
}
