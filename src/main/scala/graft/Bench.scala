package graft
import org.apache.spark.sql.SparkSession
object Bench {
  private def loadavg1m: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Env knob with a system-property override (props win): a `-D`
    * on the bench JVM overrides the environment. [[GraftSession]]
    * reads its AQE switch through it too. */
  private[graft] def knob(name: String, default: String): String =
    sys.props.get(name).orElse(sys.env.get(name)).getOrElse(default)
  private[graft] def knobOpt(name: String): Option[String] =
    sys.props.get(name).orElse(sys.env.get(name))

  /** Budget early-stop predicate (r14 verdict #1a): stop BEFORE starting
    * the next measured pass when the elapsed wall plus the last
    * completed pass's wall projects past the budget — the r14 driver
    * run was killed at its wall limit (rc=124) and the all-or-nothing
    * artifact left no number of record. At least one measured pass
    * always runs (an artifact with zero recorded passes adjudicates
    * nothing), so the check only arms once a pass exists. */
  private[graft] def shouldStop(elapsedS: Double, lastPassWallS: Double,
                                budgetS: Double, passesDone: Int): Boolean =
    passesDone >= 1 && elapsedS + lastPassWallS > budgetS

  /** Median of the recorded reps — the canonical per-row statistic
    * (r13 verdict #2: min-of-reps made the round's number a
    * noise-order statistic in BOTH directions on a host with p90 rep
    * spread 5.8×; the median of 5 interleaved reps moves only when
    * ≥3 of 5 decorrelated readings move, which host-noise windows
    * measured here do not do). Even count → mean of the two middles. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Fixed-point JSON number: `digits` decimals under `Locale.ROOT`, so
    * a host locale with a decimal comma can never emit `1,5` into the
    * artifact. */
  private[graft] def num(x: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))

  /** JSON string literal body: quotes, backslashes and control
    * characters escaped (error messages carry all three). */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Cumulative GC milliseconds across all collector beans — deltas
    * around each measured pass go into the artifact (r13 verdict #1:
    * the r12 8g-heap thrash was diagnosed by exactly this counter,
    * read by hand; a 23.5 s best-of-reps on an unchanged banded join
    * must never again be un-diagnosable from the artifact alone). */
  private[graft] def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Aggregate guest-visible steal ticks from /proc/stat's `cpu ` line
    * (field 8, USER_HZ) — the host-contention counter the r12/r13
    * "environmental" claims needed in-file. 0 on hosts that hide
    * steal (this Firecracker guest usually does — a zero here plus a
    * slow wall points the finger at INVISIBLE host noise, which is
    * itself the adjudication). -1 when unreadable. */
  private[graft] def stealTicks(): Long = try {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0)
    val f = line.trim.split("\\s+")
    if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
  } catch { case _: Throwable => -1L }

  /** Best-effort LiveListenerBus drain via reflection (`listenerBus`
    * and `waitUntilEmpty` are private[spark], which compiles to public
    * bytecode, so getMethod finds them). Returns true when a drain
    * method actually ran. r14 ADVICE: the focused-run attribution
    * settled the async bus with a fixed 150 ms sleep, and late
    * task-end events past that window bled into the next query's
    * delta — polling the bus empty removes the bleed where the Spark
    * build allows it, and the artifact records WHICH mode produced the
    * split either way. */
  private[graft] def drainListenerBus(spark: SparkSession): Boolean = try {
    val sc = spark.sparkContext
    val lb = sc.getClass.getMethod("listenerBus").invoke(sc)
    val timed = lb.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 1 &&
        m.getParameterTypes()(0) == java.lang.Long.TYPE)
    timed match {
      case Some(m) =>
        // a TimeoutException here means the bus was still busy after
        // 2 s of draining — strictly better settled than a fixed sleep
        try m.invoke(lb, java.lang.Long.valueOf(2000L))
        catch { case _: java.lang.reflect.InvocationTargetException => () }
        true
      case None =>
        lb.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0) match {
          case Some(m0) => m0.invoke(lb); true
          case None => false
        }
    }
  } catch { case _: Throwable => false }

  /** Host fingerprint for the artifact (r12 verdict #1/#2: the 1.69×
    * driver-vs-self disagreement was unadjudicable because neither
    * artifact recorded WHAT HOST it ran on — an "environmental" claim
    * needs cpu model / kernel / governor / page-cache state in the
    * numbers' own file). Best-effort reads; absent fields say "na"
    * rather than fail the bench. */
  private[graft] def hostFingerprint(): Map[String, String] = {
    def read(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
      catch { case _: Throwable => None }
    val cpu = read("/proc/cpuinfo").flatMap(_.linesIterator
      .find(_.startsWith("model name")).map(_.split(":", 2)(1).trim)).getOrElse("na")
    val kernel = read("/proc/version").map(_.split(" ").lift(2).getOrElse("na")).getOrElse("na")
    val gov = read("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor")
      .map(_.trim).getOrElse("na")
    val mem = read("/proc/meminfo").map { t =>
      def kb(key: String) = t.linesIterator.find(_.startsWith(key))
        .flatMap(_.replaceAll("[^0-9]", "") match { case "" => None; case s => Some(s.toLong) })
        .getOrElse(0L)
      (kb("MemAvailable"), kb("Cached"))
    }.getOrElse((0L, 0L))
    Map(
      "cpu_model" -> cpu,
      "kernel" -> kernel,
      "governor" -> gov,
      "mem_available_mb" -> (mem._1 / 1024).toString,
      "page_cache_mb" -> (mem._2 / 1024).toString)
  }

  /** Warm lanes (r15 verdict "next round" #3): the sequential warm pass
    * was the bench's single largest fixed block (133-155 s). The warm
    * pass is UNTIMED, so overlapping independent queries (guide §2.6 —
    * FIFO scheduling back-fills each job's straggler tail with the next
    * lane's tasks) cuts only run wall, never a measured number. */
  private val WarmThreads = 4

  /** `sbt "runMain graft.Bench"`: builds the local session on
    * `SPARK_GRAFT_CPUS` cores, waits up to 120 s for the host to go
    * idle, runs [[run]] into the working directory and stops the
    * session. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(knob("SPARK_GRAFT_CPUS", "4"))
    // Idle-bench discipline (BASELINE.md): readings taken under load are
    // not comparable across rounds (r6 verdict #1: loadavg 2.35 made three
    // unchanged operators read 1.4–5.9× above their idle claims). Wait up
    // to 2 min for the box to go idle — after the session build, whose
    // own load would otherwise land in [[run]]'s `loadavg1m_start`; if it
    // never does, proceed — [[run]] stamps a loud warning into the
    // artifact so the reader knows.
    var waited = 0
    while (loadavg1m > 1.0 && waited < 120) {
      System.err.println(f"[bench] loadavg1m=${loadavg1m}%.2f > 1.0 - waiting for idle (${waited}s)")
      Thread.sleep(10000); waited += 10
    }
    try run(spark, ".") finally spark.stop()
  }

  /** One bench run on `spark`: an untimed warm pass, then up to
    * `SPARK_GRAFT_BENCH_REPS` interleaved measured passes over the
    * registry (or the `SPARK_GRAFT_BENCH_ONLY` rows) at
    * `SPARK_GRAFT_SF_DIR`, within `SPARK_GRAFT_BENCH_BUDGET_S`. After
    * every completed pass it rewrites `BENCH_SELF.json` (`BENCH_FOCUS.json`
    * for a filtered run) in `artifactDir` and prints one summary line.
    * The session is left running. */
  def run(spark: SparkSession, artifactDir: String): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = knob("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Wall budget (r14 verdict #1a): default 1800 s; ≥3 completed passes
    // keep the median statistic honest, and the budget math targets that
    // naturally — each pass's go/no-go uses the previous pass's own wall.
    val budgetS = knob("SPARK_GRAFT_BENCH_BUDGET_S", "1800").toDouble
    // focused-run filter for profiling sessions (comma-separated names
    // or prefixes); a filtered run never overwrites BENCH_SELF.json
    val only: Option[Set[String]] =
      knobOpt("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(pats => pats.exists(p => name == p || name.startsWith(p)))
    // the session's own local[N], not a knob: the caller built it
    val master = spark.sparkContext.master
    val cpus = "local\\[(.+)\\]".r.findFirstMatchIn(master).map(_.group(1)).getOrElse(master)
    // loadavg1m_start is the idle-discipline reading, taken before any
    // of this run's Spark work — the number to compare against the
    // <1.0 bar
    val startLoad = loadavg1m
    val loadWarning =
      if (startLoad > 1.0) s""","warning":"loadavg1m ${num(startLoad, 2)} > 1.0 at start - timings not comparable to idle baselines""""
      else ""
    // a shared session may still hold memos (and their build tags) from
    // an earlier run over this dir: drop them so `warm_runs` and
    // `memo_paid` price THIS run's cold builds
    graft.operators.OpMemo.invalidate(spark, Some(sfDir))
    // Standing instrumentation (r13 verdict #1: the r12 "regression"
    // was adjudicated by hand-reading GC/heap after the fact, and the
    // r13 artifact STILL could not attribute a 4.5× best-of-reps on an
    // unchanged row — heap size, storage eviction, GC time and host
    // steal now live in the artifact itself, per measured pass, so the
    // next cross-round disagreement settles from the file alone).
    // Eviction proxy: a block update whose new level is invalid is a
    // block DROPPED from storage — during the measured window nothing
    // unpersists, so every drop is memory-pressure eviction (the exact
    // r12 thrash signature: families recomputing their cached inputs).
    val evictedBlocks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(
          e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        // RDD blocks only: broadcast/shuffle blocks are ContextCleaner-
        // removed as a matter of routine (~90/pass measured) and would
        // drown the signal this counter exists for — CACHED-frame
        // evictions under memory pressure, the r12 thrash signature
        if (e.blockUpdatedInfo.blockId.isRDD &&
            !e.blockUpdatedInfo.storageLevel.isValid) evictedBlocks.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def heapUsedMb: Long =
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1024 * 1024)
    def storageUsedMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024 * 1024)
    // Attribution settle mode, probed once: listener-bus drain where the
    // Spark build exposes it, fixed 150 ms sleep otherwise — and the
    // artifact names the mode, so a reader of the per-query split knows
    // whether late task-end bleed is possible (r14 ADVICE).
    val drainWorks = drainListenerBus(spark)
    val settleMode = if (drainWorks) "listener-drain" else "fixed-sleep-150ms"
    def settle(): Unit = if (!drainWorks || !drainListenerBus(spark)) Thread.sleep(150)
    // warm the session once (scheduler, parquet metadata for every
    // table, codegen, fixture dataset machinery) so the first measured
    // queries don't absorb JVM + first-touch file-listing/footer costs;
    // queries run in sorted order for stable reports
    try {
      spark.range(1000).count()
      graft.meta.Fixtures.defsDS(spark).count()
      graft.sources.Tables.names.foreach(n =>
        graft.sources.Tables(spark, sfDir, n).count())
    } catch { case scala.util.control.NonFatal(_) => () }
    // A failing row is an ERROR, never a wall: a time-to-throw would
    // read as a fast row. Its first message goes under `errors`, and the
    // row leaves `queries`, `runs` and the total. Fatal errors (OOM,
    // linkage) propagate and end the run.
    val errors = scala.collection.concurrent.TrieMap.empty[String, String]
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors.putIfAbsent(name, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    // Untimed warm pass (r12 verdict #2: 44 rows with 10–60× first-run
    // spikes — the measured pass was profiling the shared OpMemo graph's
    // topology and the cold page cache, not the operators). The warm
    // pass pays every shared memo + parquet page ONCE, outside the
    // clock, on WarmThreads lanes. DuckDB's BASELINE.md numbers are
    // best-of-3 on a warm process, so a warm measured pass is the
    // symmetric methodology. Its wall is recorded (`warm_pass_s`, r14
    // verdict #3). Memo attribution (`memo_paid`) comes from build-time
    // tags recorded by OpMemo itself, exact under concurrent lanes.
    // Per-query warm walls are recorded VERBATIM as `warm_runs` (r15
    // verdict #1a: every memoized row carries its cold, memo-paying wall
    // next to the steady-state median); the lanes overlap, so they are
    // UPPER bounds on the solo cold cost — the artifact names the lane
    // count (`warm_parallelism`) so a reader prices that.
    val warmRuns = scala.collection.concurrent.TrieMap.empty[String, Double]
    val warmT0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    val lanes = names.map { name =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          spark.sparkContext.setJobDescription(s"warm:$name") // thread-local
          graft.operators.OpMemo.withBuildTag(name)(runOnce(name))
            .foreach(w => warmRuns(name) = w)
        }
      })
    }
    pool.shutdown()
    // every lane is joined: get() rethrows what a lane threw (runOnce
    // keeps only non-fatal errors), and the whole warm pass is bounded
    // by the run's wall budget — past it the rows still running are
    // recorded under `errors`, the artifact is written, and then the
    // bench fails loudly rather than wait on a hung lane
    val overBudget = s"warm pass still running at the ${budgetS}s budget (SPARK_GRAFT_BENCH_BUDGET_S)"
    val unfinished =
      try {
        val timedOut = lanes.exists { f =>
          val leftS = math.max(0.0, budgetS - elapsedS)
          try { f.get((leftS * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS); false }
          catch {
            case _: java.util.concurrent.TimeoutException => true
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
        if (!timedOut) Nil
        else names.zip(lanes).collect { case (n, f) if !f.isDone => n }
      } finally pool.shutdownNow()
    unfinished.foreach(n => errors(n) = overBudget)
    val memoPaid: Map[String, Seq[String]] =
      graft.operators.OpMemo.builds(spark, sfDir).toSeq.groupBy(_._2)
        .map { case (q, ks) => q -> ks.map(_._1).sorted }
    val warmPassS = (System.nanoTime() - warmT0) / 1e9
    // Measured passes: up to `reps` recorded runs per row (r12 verdict
    // #2's per-row variance ask; reps 3→5 and min→median per r13
    // verdict #2) — "queries" carries the MEDIAN over the passes that
    // COMPLETED (a min-of-reps is an order statistic of the host's
    // noise floor and wandered the headline 83↔138 s on unchanged
    // code), "runs" carries every reading verbatim. Reps are
    // INTERLEAVED (pass 1 over every query, then pass 2, …) rather
    // than back-to-back per row: this host's noise arrives in
    // multi-second windows (measured r13: ns_vec_label_outliers read
    // [14.7, 15.0] adjacent but 0.52 isolated), and back-to-back reps
    // let one window poison every reading of a row; interleaving
    // decorrelates the reps at zero extra cost.
    val reps = knob("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // Focused-run stage attribution (r13 verdict #4: "is pagerank's 2×
    // scheduler delay or task time?" needs the split IN the artifact).
    // Per timed run we snapshot the task-metric accumulators, settle
    // the async listener bus (focused rows only — a per-query settle
    // on 190 rows × 5 reps would distort the full run's interleave),
    // and sum per-query deltas across reps. Reading: wall ≈ task_ms/32
    // → CPU-bound in tasks; task_ms ≫ cpu_ms → tasks stalled off-CPU
    // (host steal / IO); wall ≫ task_ms/32 → driver planning +
    // scheduler delay.
    val attrib = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Double)]
    def runMeasured(name: String): Option[Double] =
      if (only.isEmpty) runOnce(name)
      else {
        val r0 = taskRunMs.get(); val g0 = taskGcMs.get(); val c0 = taskCpuNs.get()
        val w = runOnce(name)
        settle()
        val (t, g, c, pw) = attrib.getOrElse(name, (0L, 0L, 0L, 0.0))
        attrib(name) = (t + (taskRunMs.get() - r0), g + (taskGcMs.get() - g0),
          c + (taskCpuNs.get() - c0) / 1000000L, pw + w.getOrElse(0.0))
        w
      }
    // Per-pass counter deltas (r13 verdict #1): GC millis, steal ticks,
    // blocks evicted, end-of-pass heap/storage residency — plus the
    // pass's own wall and its task_ms / task_cpu_ms deltas (r14 verdict
    // #6: the task≫cpu contention meter, per pass, at zero cost — the
    // accumulators already exist), so a loud pass is attributable
    // without a focused re-run.
    val passStats = scala.collection.mutable.ArrayBuffer.empty[String]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Option[Double]]]
    val artifactName = if (only.isEmpty) "BENCH_SELF.json" else "BENCH_FOCUS.json"
    val artifactPath = new java.io.File(artifactDir, artifactName).getPath
    val maxHeapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val fp = hostFingerprint()
    val fpJson = fp.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""\"$k\":\"${v.replace("\\", "").replace("\"", "")}\"""" }
      .mkString(""","host":{""", ",", "}")
    // Incremental emit (r14 verdict #1b): the artifact is rewritten and
    // the compact stdout summary reprinted after EVERY completed pass,
    // so a kill mid-run still leaves (a) a parseable artifact with
    // `reps_completed` passes of verbatim runs and (b) the last
    // completed pass's summary on stdout.
    def emit(): Unit = {
      val allRuns: Map[String, Seq[Double]] =
        names.filterNot(errors.contains).map(n => n -> passes.toSeq.flatMap(_(n))).toMap
      val results = allRuns.map { case (name, rs) => name -> median(rs) }
      val memoJson = memoPaid.toSeq.sortBy(_._1).map { case (n, ks) =>
        s"""\"$n\":[${ks.map("\"" + _ + "\"").mkString(",")}]"""
      }.mkString(""","memo_paid":{""", ",", "}")
      // cold receipts: the warm pass's per-query walls, keyed like `queries`
      val warmRunsJson = warmRuns.toSeq.sortBy(_._1)
        .map { case (n, w) => s"""\"$n\":${num(w, 3)}""" }
        .mkString(s""""warm_parallelism":$WarmThreads,"warm_runs":{""", ",", "},")
      val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.values.sum else 0.0
      val errorsJson = errors.toSeq.sortBy(_._1)
        .map { case (n, msg) => s"""\"$n\":\"${jsonStr(msg)}\"""" }
        .mkString(""","errors":{""", ",", "}")
      // Load context in the artifact (r5 verdict #4, r6 verdict #1):
      // loadavg1m (end) includes the bench's own local load and is
      // recorded for continuity with earlier artifacts.
      val load = loadavg1m
      val runsJson = allRuns.toSeq.sortBy(_._1)
        .map { case (n, rs) => s"""\"$n\":[${rs.mkString(",")}]""" }
        .mkString(""","runs":{""", ",", "}")
      val passStatsJson = passStats.mkString(""","jvm_max_heap_mb":""" + maxHeapMb +
        ""","pass_stats":[""", ",", "]")
      val attribJson =
        if (attrib.isEmpty) ""
        else attrib.toSeq.sortBy(_._1).map { case (n, (t, g, c, w)) =>
          s"""\"$n\":{\"task_ms\":$t,\"task_gc_ms\":$g,\"task_cpu_ms\":$c,\"wall_s\":$w}"""
        }.mkString(s""","attribution_settle":"$settleMode","attribution":{""", ",", "}")
      // effective-parallelism contract (r15 verdict "next round" #2: no
      // artifact stated what parallelism the run actually used — these
      // fields close that gap in both the artifact and the stdout summary)
      val parJson = {
        val cpusJson = scala.util.Try(cpus.trim.toInt).map(_.toString)
          .getOrElse("\"" + cpus + "\"")
        s""","cpus":$cpusJson,"default_parallelism":${spark.sparkContext.defaultParallelism},"shuffle_partitions":${scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(-1)},"aqe":"${spark.conf.get("spark.sql.adaptive.enabled")}""""
      }
      val budgetJson = s""","reps_completed":${passes.size},"budget_s":$budgetS,"elapsed_s":${num(elapsedS, 1)},"warm_pass_s":${num(warmPassS, 1)}$parJson"""
      val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","stat":"median",$warmRunsJson"queries":$qs,"sf":"$sfDir","warm_pass":true,"reps":$reps$budgetJson,"loadavg1m_start":$startLoad,"loadavg1m":$load$fpJson$passStatsJson$runsJson$errorsJson$memoJson$attribJson$loadWarning}"""
      // best-effort: a read-only dir / full disk must not cost the run
      // its stdout summary after minutes of measured work (r10 review
      // #3) — the println below is unconditional
      try java.nio.file.Files.write(java.nio.file.Paths.get(artifactPath),
        (fullJson + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $artifactPath write failed: ${e.getMessage}") }
      val slowest = results.toSeq.sortBy(-_._2).take(12)
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      // The COMPLETE result JSON goes to the artifact file (r9 verdict
      // #1: the full per-query map outgrew a stdout-tail capture); the
      // stdout line is a compact summary — total + the slowest rows
      // only, plus a pointer to the artifact actually written.
      println(s"""{"metric":"total","value":$total,"unit":"sec","stat":"median","queries":$slowest,"n_queries":${results.size},"n_errors":${errors.size},"queries_file":"$artifactName","warm_pass":true,"reps":$reps$budgetJson,"sf":"$sfDir","loadavg1m_start":$startLoad,"loadavg1m":$load,"jvm_max_heap_mb":$maxHeapMb$fpJson${passStats.mkString(""","pass_stats":[""", ",", "]")}$attribJson$loadWarning}""")
    }
    if (unfinished.nonEmpty) {
      emit()
      spark.sparkContext.removeSparkListener(listener)
      throw new IllegalStateException(s"[bench] $overBudget: ${unfinished.mkString(", ")}")
    }
    var lastPassWall = 0.0
    var stopped = false
    while (passes.size < reps && !stopped) {
      if (shouldStop(elapsedS, lastPassWall, budgetS, passes.size)) {
        System.err.println(f"[bench] budget stop after ${passes.size}/$reps passes: elapsed ${elapsedS}%.0fs + last pass ${lastPassWall}%.0fs > budget ${budgetS}%.0fs")
        stopped = true
      } else {
        val pt0 = System.nanoTime()
        val gc0 = gcMillis(); val st0 = stealTicks(); val ev0 = evictedBlocks.get()
        val tr0 = taskRunMs.get(); val tc0 = taskCpuNs.get()
        val m = names.map(n => n -> runMeasured(n)).toMap
        // settle the async bus once per pass so the pass-level task
        // deltas don't bleed across pass boundaries (5 calls total)
        if (drainWorks) drainListenerBus(spark)
        val st1 = stealTicks()
        lastPassWall = (System.nanoTime() - pt0) / 1e9
        passStats += s"""{"gc_ms":${gcMillis() - gc0},"steal_ticks":${
          if (st0 < 0 || st1 < 0) -1 else st1 - st0},"evicted_blocks":${
          evictedBlocks.get() - ev0},"heap_used_mb":$heapUsedMb,"storage_used_mb":$storageUsedMb,"pass_wall_s":${num(lastPassWall, 2)},"task_ms":${taskRunMs.get() - tr0},"task_cpu_ms":${(taskCpuNs.get() - tc0) / 1000000L}}"""
        passes += m
        emit()
      }
    }
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} row(s) FAILED and are left out of the total: ${errors.keys.toSeq.sorted.mkString(", ")}")
    if (only.nonEmpty)
      System.err.println(s"[bench] BENCH_ONLY filter active (${names.size} rows) - wrote $artifactPath, BENCH_SELF.json untouched")
    // a caller's session outlives this run: detach its counters
    spark.sparkContext.removeSparkListener(listener)
  }
}
