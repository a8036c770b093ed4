package graft

import org.scalatest.funsuite.AnyFunSuite

/** The in-artifact bench regression triage (r7 verdict #4) recovers
  * per-query bands from the previous bench run. r9 verdict #1: the
  * registry outgrew the driver's ~2–4 KB stdout-tail capture
  * (BENCH_r09.json kept ZERO flat per-query pairs → two rounds of
  * `"parsed": null` and a red gate), so the artifact of record is now
  * the bench's own committed `BENCH_SELF.json`; the driver's escaped,
  * head-truncated `BENCH_r{N}.json` wrapper is only a fallback. Both
  * paths are pinned here against synthetic fixtures (deterministic —
  * the old spec pinned the real driver artifact and went red the
  * moment the driver dropped a truncated one), plus one integration
  * check against the committed self artifact in cwd. */
class BenchTriageSpec extends AnyFunSuite {

  private def inTempDir(files: (String, String)*)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    try {
      files.foreach { case (name, text) =>
        java.nio.file.Files.write(new java.io.File(dir, name).toPath, text.getBytes("UTF-8"))
      }
      body(dir.getAbsolutePath)
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete()); dir.delete()
    }
  }

  private val sf01 = "/root/testdata/sf0.1"

  test("prevBench prefers the committed BENCH_SELF.json (clean, full map)") {
    val self =
      s"""{"metric":"total","value":1.3,"unit":"sec","queries":{"ns_dedup_minhash":0.091,"ns_dedup_exact":0.177,"k01_table_counts":0.205,"not_a_query":9.9},"sf":"$sf01","loadavg1m_start":0.2,"loadavg1m":3.1}"""
    // a wrapper with a DIFFERENT value proves precedence, not fallback
    val wrapper =
      s"""{"n": 9, "sf": 0.1, "tail": "\\"ns_dedup_minhash\\":0.5", "parsed": null}"""
    inTempDir("BENCH_SELF.json" -> self, "BENCH_r09.json" -> wrapper) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev("ns_dedup_minhash") == 0.091, "self artifact must win over the wrapper")
      assert(prev("ns_dedup_exact") == 0.177 && prev("k01_table_counts") == 0.205)
      assert(!prev.contains("not_a_query"), "unregistered names must be filtered")
      assert(!prev.contains("value") && !prev.contains("loadavg1m_start"),
        "scalar summary fields must not leak in as bands")
    }
  }

  test("prevBench falls back to the driver's escaped, head-truncated wrapper") {
    // the driver wraps the bench stdout tail in {"tail": "…"} with
    // quotes escaped and the line's HEAD truncated mid-token — the
    // parser works on the escaped fragment, not clean JSON
    val wrapper =
      """{"n": 8, "rc": 0, "cpus": 32, "sf": 0.1, "tail": "558,\"ns_vec_topk_lsh\":0.060505209,\"ns_dedup_minhash\":0.097872784,\"k01_table_counts\":0.205603534,\"ns_dedup_exact\":0.210145514}", "parsed": null}"""
    inTempDir("BENCH_r08.json" -> wrapper) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev("ns_dedup_minhash") == 0.097872784)
      assert(prev("ns_vec_topk_lsh") == 0.060505209)
      assert(prev.size == 4, s"expected exactly the 4 registered rows, got $prev")
    }
  }

  test("prevBench falls PAST an off-SF self file to a valid wrapper (r10 review #2)") {
    // a smoke run at another SF overwrites BENCH_SELF.json; the next
    // canonical run must not lose triage while a still-valid driver
    // wrapper sits next to it
    val offSf =
      """{"metric":"total","value":0.5,"unit":"sec","queries":{"ns_dedup_exact":0.05},"sf":"/root/testdata/sf0.01"}"""
    val wrapper =
      """{"n": 8, "sf": 0.1, "tail": "\"ns_dedup_minhash\":0.097872784", "parsed": null}"""
    inTempDir("BENCH_SELF.json" -> offSf, "BENCH_r08.json" -> wrapper) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev == Map("ns_dedup_minhash" -> 0.097872784),
        s"expected the wrapper band after the off-SF self file, got $prev")
    }
  }

  test("prevBench falls PAST a pairless killed-run wrapper to the previous round's (r14 verdict #7)") {
    // the r14 failure mode: the driver killed the bench at its wall
    // limit, so BENCH_r14.json holds rc=124 and a tail of WARN log
    // lines with zero per-query pairs — the reader must fall through
    // to the previous wrapper instead of silently zeroing the bands
    val killed =
      """{"n": 14, "rc": 124, "cpus": 32, "sf": 0.1, "tail": "26/08/16 23:13:32 WARN BlockManager: Block rdd_18792_1 already exists on this machine; not re-adding it", "parsed": null}"""
    val valid =
      """{"n": 13, "rc": 0, "sf": 0.1, "tail": "\"ns_dedup_minhash\":0.097872784", "parsed": null}"""
    inTempDir("BENCH_r14.json" -> killed, "BENCH_r13.json" -> valid) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev == Map("ns_dedup_minhash" -> 0.097872784),
        s"expected fall-through past the pairless r14 wrapper to r13, got $prev")
    }
    // and with a valid self file present, the killed wrapper is moot
    val self =
      s"""{"metric":"total","value":1.0,"unit":"sec","queries":{"ns_dedup_exact":0.177},"sf":"$sf01"}"""
    inTempDir("BENCH_SELF.json" -> self, "BENCH_r14.json" -> killed) { dir =>
      assert(Bench.prevBench(sf01, dir) == Map("ns_dedup_exact" -> 0.177))
    }
  }

  test("prevBench bands from an early-stopped self file: ceiling = max over reps_completed passes (r15)") {
    // a budget-stopped run records fewer runs entries than `reps`; the
    // ceiling is the max over what RAN — no special-casing, no refusal
    val self =
      s"""{"metric":"total","value":1.0,"unit":"sec","stat":"median","queries":{"ns_dedup_minhash":0.12},"sf":"$sf01","reps":5,"reps_completed":3,"runs":{"ns_dedup_minhash":[0.12,0.29,0.11]}}"""
    inTempDir("BENCH_SELF.json" -> self) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev("ns_dedup_minhash") == 0.29,
        s"ceiling over the 3 completed passes expected, got $prev")
    }
  }

  test("prevBench refuses a cross-SF band (sf mismatch -> no triage)") {
    val self =
      s"""{"metric":"total","value":1.0,"unit":"sec","queries":{"ns_dedup_exact":0.2},"sf":"$sf01"}"""
    inTempDir("BENCH_SELF.json" -> self) { dir =>
      assert(Bench.prevBench("/root/testdata/sf0.01", dir).isEmpty,
        "bands from an sf0.1 artifact must not gate an sf0.01 run")
    }
    assert(Bench.prevBench("/root/testdata/sf0.01").isEmpty,
      "cwd artifacts are sf0.1 — must not gate an sf0.01 run")
  }

  test("band = recorded ceiling when runs are present — the floor flags host luck as regression (r13)") {
    val self =
      s"""{"metric":"total","value":1.3,"unit":"sec","queries":{"ns_dedup_minhash":0.091,"ns_dedup_exact":0.177},"sf":"$sf01","runs":{"ns_dedup_minhash":[0.091,0.31,0.12],"ns_dedup_exact":[0.177]},"loadavg1m_start":0.2}"""
    inTempDir("BENCH_SELF.json" -> self) { dir =>
      val prev = Bench.prevBench(sf01, dir)
      assert(prev("ns_dedup_minhash") == 0.31,
        s"band must be the max recorded rep, got ${prev("ns_dedup_minhash")}")
      assert(prev("ns_dedup_exact") == 0.177, "single-rep rows keep their value")
    }
  }

  test("committed artifact is self-adjudicating: host fingerprint, per-row runs, noise counter (r12 verdict #2)") {
    // the r12 driver-vs-self disagreement was unadjudicable because no
    // artifact recorded host identity or per-row variance — these
    // fields are now load-bearing for every cross-round comparison,
    // so their presence in the COMMITTED artifact is pinned
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_SELF.json")), "UTF-8")
    for (f <- Seq("\"host\":", "\"cpu_model\":", "\"kernel\":", "\"page_cache_mb\":",
                  "\"runs\":", "\"noisy_first_runs\":", "\"warm_pass\":", "\"reps\":"))
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

  test("main(): budget stop + incremental flush leave a parseable artifact per pass (r14 verdict #1)") {
    // drives the real main() in-process via the prop-overridable knobs:
    // 4 requested reps against a budget only one pass can fit must
    // yield reps_completed < reps with a valid artifact and a summary
    // line per completed pass — the r14 kill left NOTHING parseable
    val out = SparkSuite.tempDir("benchmain")
    val props = Map(
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts,k04_point_lookup",
      "SPARK_GRAFT_BENCH_REPS" -> "4",
      "SPARK_GRAFT_BENCH_WARM" -> "0",
      "SPARK_GRAFT_BENCH_IDLE_WAIT_S" -> "0",
      "SPARK_GRAFT_BENCH_DIR" -> out,
      "SPARK_GRAFT_BENCH_KEEP_SESSION" -> "1")
    def run(budget: String): (String, String) = {
      SparkSuite.spark // ensure the shared session exists before main() getOrCreate()s
      (props + ("SPARK_GRAFT_BENCH_BUDGET_S" -> budget)).foreach { case (k, v) => sys.props(k) = v }
      val buf = new java.io.ByteArrayOutputStream()
      try Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { Bench.main(Array.empty) }
      finally {
        (props.keySet + "SPARK_GRAFT_BENCH_BUDGET_S").foreach(sys.props.remove)
        SparkSuite.spark.sparkContext.setLogLevel("ERROR")
      }
      val artifact = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "BENCH_FOCUS.json")), "UTF-8")
      (artifact, buf.toString("UTF-8"))
    }
    // budget 0.001 s: pass 1 always runs, then the stop predicate fires
    val (a1, s1) = run(budget = "0.001")
    assert(a1.contains("\"reps\":4") && a1.contains("\"reps_completed\":1"),
      s"expected an early stop after exactly 1 of 4 passes, artifact: ${a1.take(300)}")
    assert("\"k01_table_counts\":\\[[0-9.]+\\]".r.findFirstIn(a1).isDefined,
      "the single completed pass must carry verbatim runs arrays")
    assert(s1.linesIterator.count(_.contains("\"queries_file\":\"BENCH_FOCUS.json\"")) == 1,
      "one summary line per completed pass, naming the focused artifact (r14 ADVICE)")
    // ample budget: all 4 passes complete, one flush + summary per pass
    val (a2, s2) = run(budget = "100000")
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

  test("main(): warm pass records per-query cold walls as warm_runs (r15 verdict next-round #1a)") {
    val out = SparkSuite.tempDir("benchwarm")
    val props = Map(
      "SPARK_GRAFT_SF_DIR" -> SparkSuite.sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts,k04_point_lookup",
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_WARM" -> "1",
      "SPARK_GRAFT_BENCH_WARM_THREADS" -> "2",
      "SPARK_GRAFT_BENCH_IDLE_WAIT_S" -> "0",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "100000",
      "SPARK_GRAFT_BENCH_DIR" -> out,
      "SPARK_GRAFT_BENCH_KEEP_SESSION" -> "1")
    SparkSuite.spark
    props.foreach { case (k, v) => sys.props(k) = v }
    try Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      Bench.main(Array.empty)
    } finally {
      props.keySet.foreach(sys.props.remove)
      SparkSuite.spark.sparkContext.setLogLevel("ERROR")
    }
    val a = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "BENCH_FOCUS.json")), "UTF-8")
    assert(a.contains("\"warm_parallelism\":2"), s"artifact must state the warm lane count: ${a.take(200)}")
    for (q <- Seq("k01_table_counts", "k04_point_lookup"))
      assert(("\"warm_runs\":\\{[^}]*\"" + q + "\":[0-9.]+").r.findFirstIn(a).isDefined,
        s"warm_runs must carry a cold wall for $q")
    // warm_runs precedes queries so prevBench's last-wins flat scan
    // still bands on the steady-state medians, not the cold walls
    assert(a.indexOf("\"warm_runs\":") < a.indexOf("\"queries\":"),
      "warm_runs must precede the queries map")
  }

  test("main(): a failing row is recorded under errors, never as a wall in the total") {
    // an empty SF dir: every table read throws, so k01_table_counts fails
    val out = SparkSuite.tempDir("bencherr")
    val emptySf = SparkSuite.tempDir("bench-empty-sf")
    val props = Map(
      "SPARK_GRAFT_SF_DIR" -> emptySf,
      "SPARK_GRAFT_BENCH_ONLY" -> "k01_table_counts",
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_WARM" -> "1",
      "SPARK_GRAFT_BENCH_WARM_THREADS" -> "1",
      "SPARK_GRAFT_BENCH_IDLE_WAIT_S" -> "0",
      "SPARK_GRAFT_BENCH_BUDGET_S" -> "100000",
      "SPARK_GRAFT_BENCH_DIR" -> out,
      "SPARK_GRAFT_BENCH_KEEP_SESSION" -> "1")
    SparkSuite.spark
    props.foreach { case (k, v) => sys.props(k) = v }
    val buf = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Bench.main(Array.empty)
    } finally {
      props.keySet.foreach(sys.props.remove)
      SparkSuite.spark.sparkContext.setLogLevel("ERROR")
    }
    val a = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "BENCH_FOCUS.json")), "UTF-8")
    assert("\"errors\":\\{\"k01_table_counts\":\"[^\"]+".r.findFirstIn(a).isDefined,
      s"the failing row must be recorded under errors: ${a.take(400)}")
    assert(a.contains("\"value\":0.0,") && a.contains("\"queries\":{}"),
      s"a failing row must stay out of the total: ${a.take(400)}")
    assert(!a.contains("\"k01_table_counts\":["), "no runs array for a failing row")
    assert(!("\"warm_runs\":\\{[^}]*k01_table_counts").r.findFirstIn(a).isDefined,
      "no warm wall for a failing row")
    val summary = buf.toString("UTF-8")
    assert(summary.contains("\"n_errors\":1") && summary.contains("\"n_queries\":0"),
      s"the stdout summary must count the failure: $summary")
  }

  test("cwd integration: the committed self artifact carries full bands") {
    // BENCH_SELF.json is committed every round (r9 verdict #1's 'done'
    // bar: triage has bands to gate the next round even when the
    // driver's tail window keeps zero flat pairs)
    assert(new java.io.File("BENCH_SELF.json").isFile,
      "BENCH_SELF.json must be committed at the repo root")
    val prev = Bench.prevBench(sf01)
    assert(prev.size > 100, s"expected >100 recovered query bands, got ${prev.size}")
    val names = SparkEntry.queries.keySet
    prev.foreach { case (n, v) =>
      assert(names(n), s"unregistered name leaked through: $n")
      assert(v > 0 && v < 600, s"implausible timing for $n: $v")
    }
  }
}
