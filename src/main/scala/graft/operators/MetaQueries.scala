package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.meta.Fixtures
import graft.meta.Fixtures.withCtes

/** Metadata-plane operators K2–K18 (SURVEY §2.c) — the reference's
  * MongoDB find/update surface re-expressed as Catalyst-friendly
  * relational plans over the fixture Datasets.
  *
  * Each operator cites the reference operation it re-implements
  * (`/root/reference/src/kalytical/...`). The oracle SQL runs on DuckDB
  * with the fixture CTEs inlined (generated from the same Scala data —
  * see [[graft.meta.Fixtures]]).
  *
  * Scale note: the defs/edges/running/incubating relations are tiny
  * operational metadata (thousands of rows at most in any deployment);
  * every join against them is a broadcast join by size. The
  * event-history relations (K9/K10) are the ones that grow unbounded —
  * those plans filter/sort/limit BEFORE any join, and the join side that
  * remains is the 41-row map, so the plan stays scan + broadcast +
  * TakeOrderedAndProject at any scale.
  */
object MetaQueries {

  private val headerCols = Seq("pipeline_uuid", "description", "retry_max", "concurrency",
    "engine", "engine_args", "schedule", "triggers_op", "scheduler_tracking_id",
    "tags_team", "tags_env")
  private val headerColsSql = headerCols.mkString(", ")

  /** K2 / D2 (`data_provider.py:39-53`) — prefix search with header
    * projection (column pruning drops pipeline_body). */
  val prefixHeaders: GraftQuery = GraftQuery.checked("k02_prefix_headers",
    withCtes(s"""SELECT $headerColsSql FROM pipeline_defs
      WHERE pipeline_uuid LIKE 'ingest-%' ORDER BY pipeline_uuid""")) { (spark, _) =>
    Fixtures.defsDS(spark)
      .where(col("pipeline_uuid").startsWith("ingest-"))
      .select(headerCols.map(col): _*)
      .orderBy("pipeline_uuid")
  }

  /** K3 / D2 tag filter (`data_provider.py:49-51`). */
  val tagFilter: GraftQuery = GraftQuery.checked("k03_tag_filter",
    withCtes(s"""SELECT $headerColsSql FROM pipeline_defs
      WHERE tags_team = 'data-eng' AND tags_env = 'prod' ORDER BY pipeline_uuid""")) { (spark, _) =>
    Fixtures.defsDS(spark)
      .where(col("tags_team") === "data-eng" && col("tags_env") === "prod")
      .select(headerCols.map(col): _*)
      .orderBy("pipeline_uuid")
  }

  /** K4 / D3 (`data_provider.py:55-60`) — point lookup, full document. */
  val pointLookup: GraftQuery = GraftQuery.checked("k04_point_lookup",
    withCtes("SELECT * FROM pipeline_defs WHERE pipeline_uuid = 'report-daily'")) { (spark, _) =>
    Fixtures.defsDS(spark).where(col("pipeline_uuid") === "report-daily").toDF()
  }

  /** K5 / D1 (`data_provider.py:36-37`) — downstream lookup on the
    * normalized edge view (array-contains becomes an equi-filter). */
  val downstream: GraftQuery = GraftQuery.checked("k05_downstream",
    withCtes("""SELECT pipeline_uuid, op FROM pipeline_triggers
      WHERE trigger_uuid = 'ingest-orders' ORDER BY pipeline_uuid""")) { (spark, _) =>
    Fixtures.edgesDS(spark)
      .where(col("trigger_uuid") === "ingest-orders")
      .select("pipeline_uuid", "op")
      .orderBy("pipeline_uuid")
  }

  /** K6 / D6 orphan guard (`data_provider.py:92-110`) — dangling edges:
    * triggers referencing non-existent defs, via left-anti join. */
  val danglingTriggers: GraftQuery = GraftQuery.checked("k06_dangling_triggers",
    withCtes("""SELECT DISTINCT trigger_uuid FROM pipeline_triggers t
      WHERE NOT EXISTS (SELECT 1 FROM pipeline_defs d WHERE d.pipeline_uuid = t.trigger_uuid)
      ORDER BY trigger_uuid""")) { (spark, _) =>
    Fixtures.edgesDS(spark)
      .join(Fixtures.defsDS(spark).select(col("pipeline_uuid").as("trigger_uuid")),
        Seq("trigger_uuid"), "left_anti")
      .select("trigger_uuid").distinct()
      .orderBy("trigger_uuid")
  }

  /** K7 / P6 concurrency gate (`dispatcher.py:88-96`, status vocabulary
    * unified per `facade.py:88`) — left-semi membership vs running set. */
  val concurrencyGate: GraftQuery = GraftQuery.checked("k07_concurrency_gate",
    withCtes("""SELECT d.pipeline_uuid FROM pipeline_defs d
      WHERE NOT d.concurrency AND EXISTS (
        SELECT 1 FROM running_jobs r WHERE r.pipeline_uuid = d.pipeline_uuid
          AND r.engine_status IN ('running', 'waiting', 'pending'))
      ORDER BY d.pipeline_uuid""")) { (spark, _) =>
    val active = Fixtures.runningDS(spark)
      .where(col("engine_status").isin("running", "waiting", "pending"))
      .select("pipeline_uuid")
    Fixtures.defsDS(spark)
      .where(!col("concurrency"))
      .join(active, Seq("pipeline_uuid"), "left_semi")
      .select("pipeline_uuid")
      .orderBy("pipeline_uuid")
  }

  /** K8 / P2 fan-out rule (`dispatcher.py:31-46`): children of a
    * succeeded pipeline split into run-now ('any' or single-dep 'all')
    * vs to-incubate ('all' with >1 deps). */
  val fanoutSplit: GraftQuery = GraftQuery.checked("k08_fanout_split",
    withCtes("""SELECT t.pipeline_uuid,
        CASE WHEN t.op = 'any' OR cnt.n = 1 THEN 'run' ELSE 'incubate' END AS action
      FROM pipeline_triggers t
      JOIN (SELECT pipeline_uuid, COUNT(*) AS n FROM pipeline_triggers GROUP BY pipeline_uuid) cnt
        ON t.pipeline_uuid = cnt.pipeline_uuid
      WHERE t.trigger_uuid = 'report-daily'
      ORDER BY t.pipeline_uuid""")) { (spark, _) =>
    val edges = Fixtures.edgesDS(spark)
    val depCounts = edges.groupBy("pipeline_uuid").agg(count(lit(1)).as("n"))
    edges.where(col("trigger_uuid") === "report-daily")
      .join(depCounts, Seq("pipeline_uuid"))
      .select(col("pipeline_uuid"),
        when(col("op") === "any" || col("n") === 1, "run").otherwise("incubate").as("action"))
      .orderBy("pipeline_uuid")
  }

  /** K9 / P4 unknown origination (`dispatcher.py:60-68`) — anti-join of
    * the event stream vs the defs catalog; events filtered before the
    * join, defs broadcast. */
  val unknownOrigin: GraftQuery = GraftQuery.checked("k09_unknown_origin",
    withCtes("""SELECT e.event_id, e.pipeline_uuid FROM lifecycle_events e
      WHERE e.event_subtype = 'origination'
        AND NOT EXISTS (SELECT 1 FROM pipeline_defs d WHERE d.pipeline_uuid = e.pipeline_uuid)
      ORDER BY e.event_id""")) { (spark, dir) =>
    Fixtures.lifecycleEventsDF(spark, dir)
      .where(col("event_subtype") === "origination")
      .join(broadcast(Fixtures.defsDS(spark).select("pipeline_uuid")),
        Seq("pipeline_uuid"), "left_anti")
      .select("event_id", "pipeline_uuid")
      .orderBy("event_id")
  }

  /** K10 / D10 history page (`data_provider.py:133-147`) — time-range
    * scan + sort-desc + limit → TakeOrderedAndProject (no full sort at
    * scale). */
  val historyPage: GraftQuery = GraftQuery.checked("k10_history_page",
    withCtes("""SELECT event_id, event_subtype, exec_uuid, received_time, retry_count
      FROM lifecycle_events
      WHERE pipeline_uuid = 'ingest-orders' AND received_time >= TIMESTAMP '2024-01-15 00:00:00'
      ORDER BY received_time DESC, event_id DESC LIMIT 20""")) { (spark, dir) =>
    Fixtures.lifecycleEventsDF(spark, dir)
      .where(col("pipeline_uuid") === "ingest-orders" &&
        col("received_time") >= expr("TIMESTAMP '2024-01-15 00:00:00'"))
      .select("event_id", "event_subtype", "exec_uuid", "received_time", "retry_count")
      .orderBy(col("received_time").desc, col("event_id").desc)
      .limit(20)
  }

  /** K11 / E2 job filter (`engine.py:46-62` — the reference's client-side
    * filtering TODO, pushed down for free here). */
  val runningFilter: GraftQuery = GraftQuery.checked("k11_running_filter",
    withCtes("""SELECT exec_uuid, pipeline_uuid, engine_status FROM running_jobs
      WHERE engine_status IN ('running', 'pending')
      ORDER BY exec_uuid LIMIT 10""")) { (spark, _) =>
    Fixtures.runningDS(spark)
      .where(col("engine_status").isin("running", "pending"))
      .select("exec_uuid", "pipeline_uuid", "engine_status")
      .orderBy("exec_uuid")
      .limit(10)
  }

  /** K12 / D14 distinct waiting pipelines (`data_provider.py:217-218`). */
  val distinctIncubating: GraftQuery = GraftQuery.checked("k12_distinct_incubating",
    withCtes("""SELECT DISTINCT pipeline_uuid FROM incubating
      WHERE reason = 'dependencies' ORDER BY pipeline_uuid""")) { (spark, _) =>
    Fixtures.incubatingDS(spark)
      .where(col("reason") === "dependencies")
      .select("pipeline_uuid").distinct()
      .orderBy("pipeline_uuid")
  }

  /** K13 / P7 uuid validator (`pipeline_models.py:36-41`) — regex scalar
    * function; counts catalog entries conforming to ^[a-z0-9-]+$. */
  val uuidRegexCount: GraftQuery = GraftQuery.checked("k13_uuid_regex_count",
    withCtes("""SELECT COUNT(*) AS n_valid FROM pipeline_defs
      WHERE regexp_matches(pipeline_uuid, '^[a-z0-9-]+$')""")) { (spark, _) =>
    Fixtures.defsDS(spark)
      .where(col("pipeline_uuid").rlike("^[a-z0-9-]+$"))
      .agg(count(lit(1)).as("n_valid"))
  }

  /** K14 / D14 oldest-waiting selection (`data_provider.py:221-222`) —
    * ranking window, one row per pipeline. */
  val oldestWaiting: GraftQuery = GraftQuery.checked("k14_oldest_waiting",
    withCtes("""SELECT obj_id, pipeline_uuid, create_time FROM (
        SELECT obj_id, pipeline_uuid, create_time,
               ROW_NUMBER() OVER (PARTITION BY pipeline_uuid
                                  ORDER BY create_time, obj_id) AS rn
        FROM incubating WHERE reason = 'dependencies') ranked
      WHERE rn = 1 ORDER BY pipeline_uuid""")) { (spark, _) =>
    val w = Window.partitionBy("pipeline_uuid").orderBy(col("create_time"), col("obj_id"))
    Fixtures.incubatingDS(spark)
      .where(col("reason") === "dependencies")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("obj_id", "pipeline_uuid", "create_time")
      .orderBy("pipeline_uuid")
  }

  /** K15 / P3 retry gate (`dispatcher.py:48-58`) — dead-letter set:
    * deferred runs whose retry budget is exhausted. */
  val retryGate: GraftQuery = GraftQuery.checked("k15_retry_gate",
    withCtes("""SELECT i.obj_id, i.pipeline_uuid, i.retry_count, d.retry_max
      FROM incubating i JOIN pipeline_defs d ON i.pipeline_uuid = d.pipeline_uuid
      WHERE i.retry_count >= d.retry_max AND d.retry_max > 0
      ORDER BY i.obj_id""")) { (spark, _) =>
    val defs = Fixtures.defsDS(spark).select("pipeline_uuid", "retry_max")
    Fixtures.incubatingDS(spark)
      .join(broadcast(defs), Seq("pipeline_uuid"))
      .where(col("retry_count") >= col("retry_max") && col("retry_max") > 0)
      .select("obj_id", "pipeline_uuid", "retry_count", "retry_max")
      .orderBy("obj_id")
  }

  /** K16 / S2 rule (iii) age-out (`job_culler.py:35`). */
  val ageOut: GraftQuery = GraftQuery.checked("k16_age_out",
    withCtes(s"""SELECT obj_id, pipeline_uuid, create_time FROM incubating
      WHERE create_time < ${Fixtures.NowSql} - INTERVAL ${Fixtures.AgeOutSeconds} SECOND
      ORDER BY obj_id""")) { (spark, _) =>
    Fixtures.incubatingDS(spark)
      .where(col("create_time") <
        lit(Fixtures.NOW) - expr(s"INTERVAL ${Fixtures.AgeOutSeconds} SECOND"))
      .select("obj_id", "pipeline_uuid", "create_time")
      .orderBy("obj_id")
  }

  /** K17 / S2 rule (i) concurrency debounce (`job_culler.py:22`). */
  val debounceExpired: GraftQuery = GraftQuery.checked("k17_debounce_expired",
    withCtes(s"""SELECT obj_id, pipeline_uuid, create_time, retry_count FROM incubating
      WHERE reason = 'concurrency'
        AND create_time < ${Fixtures.NowSql} - INTERVAL ${Fixtures.DebounceSeconds} SECOND
      ORDER BY obj_id""")) { (spark, _) =>
    Fixtures.incubatingDS(spark)
      .where(col("reason") === "concurrency" &&
        col("create_time") <
          lit(Fixtures.NOW) - expr(s"INTERVAL ${Fixtures.DebounceSeconds} SECOND"))
      .select("obj_id", "pipeline_uuid", "create_time", "retry_count")
      .orderBy("obj_id")
  }

  /** K18 / S2 rule (ii) all-deps-satisfied (`job_culler.py:28`, intended
    * semantics per SURVEY §8.18) — relational division via
    * MIN(CASE)-as-universal-quantifier. */
  val depsSatisfied: GraftQuery = GraftQuery.checked("k18_deps_satisfied",
    withCtes("""SELECT i.obj_id, i.pipeline_uuid
      FROM incubating i JOIN incubating_triggers tr ON i.obj_id = tr.obj_id
      WHERE i.reason = 'dependencies'
      GROUP BY i.obj_id, i.pipeline_uuid
      HAVING MIN(CASE WHEN tr.status = 'waiting' THEN 0 ELSE 1 END) = 1
      ORDER BY i.obj_id""")) { (spark, _) =>
    Fixtures.incubatingDS(spark)
      .where(col("reason") === "dependencies")
      .join(Fixtures.incubatingTriggersDS(spark), Seq("obj_id"))
      .groupBy("obj_id", "pipeline_uuid")
      .agg(min(when(col("status") === "waiting", 0).otherwise(1)).as("all_sat"))
      .where(col("all_sat") === 1)
      .select("obj_id", "pipeline_uuid")
      .orderBy("obj_id")
  }

  /** DAG TRANSITIVE CLOSURE over the trigger graph: every (root,
    * descendant) pair with its shortest trigger distance — the full
    * reachability generalization of the 1-hop `head_downstream` (D1,
    * `data_provider.py:36-37`). The question an operator of the
    * reference actually asks before editing a pipeline: "what is the
    * complete blast radius of this node, and how many trigger hops
    * away is each member?"
    *
    * Distributed SEMI-NAIVE evaluation (the Datalog/BFS form): only
    * the FRONTIER (pairs discovered last round) joins the edge list
    * each round — settled pairs are never re-expanded — so total work
    * is O(|closure| · avg-degree) joins, each a plain equi-join on the
    * frontier node that partitions by key at any scale; level-by-level
    * expansion makes first-arrival depth the minimum by construction
    * (the left-anti against the reach set drops longer rediscoveries).
    * The driver sees only the loop counter and per-round emptiness
    * scalar (the [[graft.operators.Dedup.connectedComponents]]
    * contract); `localCheckpoint` keeps plans flat across rounds. A
    * frontier still alive past `maxDepth` throws loudly — in a trigger
    * graph that means a CYCLE, which the reference's upsert validation
    * treats as a definition error, and silently truncating the blast
    * radius would mis-inform exactly the pre-delete audit this query
    * serves. */
  /** Shared distinct `(src, dst)` edge frame of the catalog trigger
    * DAG — OpMemo'd once per session (r15: each of the four iterative
    * DAG queries rebuilt, re-`cache()`d and unpersisted this same
    * static fixture frame on every run, re-paying its materialization
    * job per rep; dir-independent, so the memo keys on ""). */
  private def dagEdges(spark: SparkSession): DataFrame =
    OpMemo.cached(spark, "", "meta:dag-edges") {
      Fixtures.edgesDS(spark)
        .select(col("trigger_uuid").as("src"), col("pipeline_uuid").as("dst"))
        .distinct()
    }

  def dagClosure(spark: SparkSession, maxDepth: Int = 32): DataFrame =
    dagClosureCore(dagEdges(spark), maxDepth, cacheInput = false)

  /** The generic semi-naive closure core over a `(src, dst)` edge list
    * — any id type. Scaling numbers on synthetic layered DAGs:
    * BASELINE.md "Round 4", round-5 weak-scaling + skew tables, `dag`
    * section. `cacheInput = false` when
    * the caller passes an already-cached/memoized frame. */
  private[graft] def dagClosureCore(edges0: DataFrame, maxDepth: Int = 32,
                                    cacheInput: Boolean = true): DataFrame = {
    val edges = if (cacheInput) edges0.cache() else edges0
    var frontier: DataFrame = edges
      .select(col("src").as("root"), col("dst").as("node"), lit(1).as("depth"))
      .distinct() // the core takes ANY edge list; later levels distinct, so must level 1 (r10 review)
      .localCheckpoint(false) // materialized by the emptiness count below (r15, one job)
    // one materialization per round: the reach set is the UNION of the
    // already-checkpointed frontiers (flat lineage, depth-bounded fan-in),
    // so only the new frontier pays a localCheckpoint each level
    var levels: List[DataFrame] = List(frontier)
    var depth = 1
    // ONE job per round (r15): an eager localCheckpoint is itself a
    // materialization job, and the loop's emptiness probe was a second
    // — a LAZY checkpoint mark + count() materializes every partition
    // of the checkpoint AND answers the emptiness question in the same
    // job (count, not isEmpty: take(1) could short-circuit before all
    // partitions of the checkpoint are computed)
    var frontierEmpty = frontier.count() == 0
    while (!frontierEmpty && depth < maxDepth) {
      val seen = levels.map(_.select("root", "node")).reduce(_ unionByName _)
      val next = frontier.join(edges, frontier("node") === edges("src"))
        .select(frontier("root"), edges("dst").as("node"))
        .distinct()
        .join(seen, Seq("root", "node"), "left_anti")
        .select(col("root"), col("node"), lit(depth + 1).as("depth"))
        .localCheckpoint(false)
      frontierEmpty = next.count() == 0
      levels ::= next
      frontier = next
      depth += 1
    }
    val unfinished = !frontierEmpty
    if (cacheInput) edges.unpersist()
    if (unfinished)
      throw new IllegalStateException(
        s"dagClosure frontier still alive after $maxDepth levels — the trigger " +
        "graph has a cycle or exceeds the depth bound; a truncated closure would " +
        "under-report the blast radius, so failing loudly")
    val closed = levels.reduce(_ unionByName _)
    // the documented throw-on-cycle contract, actually enforced (r10
    // review: semi-naive expansion TERMINATES NATURALLY on any cycle
    // shorter than maxDepth — the left-anti stops the second lap — so
    // the maxDepth throw only ever fired for deep acyclic chains, the
    // opposite case. A cycle is detectable from the closure itself: a
    // node reaches itself iff it sits on one; a DAG has no such row.)
    val selfReach = closed.where(col("root") === col("node"))
    if (!selfReach.isEmpty)
      throw new IllegalStateException(
        "dagClosure found a node that reaches itself — the trigger graph has a " +
        "CYCLE, which upsert validation treats as a definition error; the " +
        "closure/blast-radius of a cyclic graph is ill-defined, so failing loudly")
    closed.orderBy("root", "node")
  }

  // withCtes can't wrap a recursive query (one WITH clause per query),
  // so this oracle assembles its own WITH RECURSIVE from the edge CTE
  val dagClosureQ: GraftQuery = GraftQuery.checked("ns_dag_closure",
    "WITH RECURSIVE\n" + Fixtures.edgesCte + """,
    reach AS (
      SELECT DISTINCT trigger_uuid AS root, pipeline_uuid AS node, 1 AS depth
      FROM pipeline_triggers
      UNION ALL
      SELECT r.root, t.pipeline_uuid AS node, r.depth + 1 AS depth
      FROM reach r JOIN pipeline_triggers t ON t.trigger_uuid = r.node)
    SELECT root, node, MIN(depth) AS depth
    FROM reach GROUP BY root, node
    ORDER BY root, node""")((spark, _) => dagClosure(spark))

  /** CRITICAL PATH — per-node scheduling depth over the trigger DAG:
    * the LONGEST source-to-node path length, i.e. the earliest level
    * at which a pipeline can run when every dependency chain is
    * honored — the number a scheduler reads to know the DAG's
    * parallel makespan ([[dagClosure]]'s shortest-distance dual;
    * reference analog: the dispatcher's fan-out P2 executes exactly
    * one level of this schedule per event wave).
    *
    * Scale shape: monotone max-relaxation to fixpoint — the
    * [[Dedup.connectedComponents]] iteration with `max(pred+1)` in
    * place of min-label: each round is ONE edges⋈levels hash join +
    * a dst-keyed max aggregate (map-side partial), rounds =
    * longest-path length (a graph property, not a data size), and
    * convergence is checked loudly — a non-converging frontier at
    * the bound means a CYCLE, which must throw (the [[dagClosure]]
    * contract) rather than emit a truncated schedule. Source nodes
    * (never a dst) anchor at level 0.
    *
    * Determinism: levels are exact integers; the fixpoint of a
    * monotone bounded map is unique regardless of iteration order. */
  def criticalPath(spark: SparkSession, maxIters: Int = 32): DataFrame =
    criticalPathCore(dagEdges(spark), maxIters, cacheInput = false)

  /** The relaxation core over any `(src, dst)` edge frame — the spec
    * drives the cycle-throw contract on a synthetic cyclic graph.
    * `cacheInput = false` when the input is already cached/memoized. */
  private[graft] def criticalPathCore(edges0: DataFrame, maxIters: Int = 32,
                                      cacheInput: Boolean = true): DataFrame = {
    val edges = if (cacheInput) edges0.cache() else edges0
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    var levels = nodes.withColumn("lvl", lit(0L)).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val relaxed = edges
        .join(levels.select(col("node").as("src"), col("lvl").as("src_lvl")), "src")
        .groupBy(col("dst").as("node")).agg(max(col("src_lvl") + 1).as("in_lvl"))
      // the changed flag rides the SAME materialization as the new
      // levels, so convergence reads the (node-count-sized) local
      // checkpoint instead of re-joining prev vs next — one action per
      // round, not two joins (the fix that took the bench row from
      // 1.9 s to the fixpoint loop's floor). r15: the checkpoint mark
      // is LAZY and the convergence count materializes it — one job
      // per round instead of checkpoint-job + isEmpty-job (count, not
      // isEmpty, so every checkpoint partition is computed)
      val next = levels.join(relaxed, Seq("node"), "left")
        .select(col("node"),
          greatest(col("lvl"), coalesce(col("in_lvl"), lit(0L))).as("lvl"),
          (coalesce(col("in_lvl"), lit(0L)) > col("lvl")).as("changed"))
        .localCheckpoint(false)
      converged = next.where(col("changed")).count() == 0
      levels = next.drop("changed")
      iter += 1
    }
    if (cacheInput) edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"criticalPath did not converge after $maxIters rounds — the trigger " +
        "graph has a cycle (or a chain beyond the bound); a truncated schedule " +
        "would under-report depths, so failing loudly")
    levels.select(col("node"), col("lvl").as("sched_level")).orderBy("node")
  }

  val criticalPathQ: GraftQuery = GraftQuery.checked("ns_dag_critical_path",
    "WITH RECURSIVE\n" + Fixtures.edgesCte + """,
    nodes AS (
      SELECT trigger_uuid AS node FROM pipeline_triggers
      UNION SELECT pipeline_uuid FROM pipeline_triggers),
    paths AS (
      SELECT node, 0 AS depth FROM nodes
      WHERE node NOT IN (SELECT pipeline_uuid FROM pipeline_triggers)
      UNION ALL
      SELECT t.pipeline_uuid AS node, p.depth + 1 AS depth
      FROM paths p JOIN pipeline_triggers t ON t.trigger_uuid = p.node)
    SELECT n.node AS node, CAST(COALESCE(MAX(p.depth), 0) AS BIGINT) AS sched_level
    FROM nodes n LEFT JOIN paths p ON p.node = n.node
    GROUP BY n.node
    ORDER BY n.node""")((spark, _) => criticalPath(spark))

  /** Damping factor and fixed iteration count for [[pageRank]],
    * interpolated into both sides (shared-constant contract). */
  private[graft] val PrDamping = 0.85
  private[graft] val PrIters = 10

  /** PAGERANK over the trigger graph — which pipelines are the
    * structural hubs of the DAG (the prioritization signal for the
    * pre-delete audit [[dagClosureQ]] serves: high-rank nodes are the
    * ones whose failure cascades matter). Simplified PageRank with
    * fixed [[PrIters]] power iterations and no dangling-mass
    * redistribution (mass leaks at sinks — documented; rank ORDER is
    * unaffected for audit purposes and the formula mirrors exactly in
    * SQL, where redistribution would need a per-iteration global
    * aggregate).
    *
    * Scale shape: each iteration is ONE equi-join of the edge list
    * against the current rank vector on the source key plus a
    * dst-keyed sum — both hash-partition at any scale — with the
    * driver seeing only the loop counter (the [[dagClosureCore]]
    * contract; `localCheckpoint` keeps lineage flat). The trigger
    * graph is catalog-sized here, but the plan is the one you'd run
    * on a billion-edge graph. The oracle UNROLLS the same ten
    * iterations as chained CTEs — a recursive CTE cannot aggregate in
    * its recursive term — so both engines compute the identical
    * fixed-point prefix. Float caveat: per-node contribution sums are
    * double accumulations over in-degrees (order-varying, ~1e-15);
    * ten iterations keep the divergence ~1e-13, six orders below the
    * 6-digit round. */
  def pageRank(spark: SparkSession): DataFrame = {
    // the node set, its count and the degree-weighted edge list are
    // static derived artifacts of the catalog fixture — memoized like
    // [[dagEdges]] (r15: every run re-ran the nodes count job and
    // re-materialized two caches before the first power iteration)
    val nodes = OpMemo.cached(spark, "", "meta:dag-pr-nodes")(
      dagEdges(spark).select(col("src").as("node"))
        .union(dagEdges(spark).select(col("dst").as("node"))).distinct())
    val n = OpMemo.cachedLong(spark, "", "meta:dag-pr-n")(nodes.count())
    val weighted = OpMemo.cached(spark, "", "meta:dag-pr-weighted")(
      dagEdges(spark)
        .join(dagEdges(spark).groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
        .select(col("src"), col("dst"), col("deg")))
    // eagerFinal = false: nothing is unpersisted after this loop, so
    // the caller's single action executes the whole checkpoint-marked
    // iteration chain as ONE job (r15 — the eager marks were three
    // separate materialization jobs per run)
    pageRankFinish(pageRankLoop(nodes, weighted, n, eagerFinal = false))
  }

  /** The generic power-method core over a `(src, dst)` edge list —
    * any id type. Scaling numbers on synthetic hub-skewed graphs:
    * BASELINE.md "Round 4", round-5 weak-scaling + skew tables,
    * PageRank weak scaling. */
  private[graft] def pageRankCore(edges0: DataFrame): DataFrame = {
    val edges = edges0.cache()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().cache()
    val n = nodes.count() // catalog-sized metadata, like Catalog's collects
    // (src, dst, deg) once, outside the loop; name-keyed joins below so
    // the iteration never resolves an attribute into a frame that its
    // own lineage already contains (the self-join ambiguity trap)
    val weighted = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .select(col("src"), col("dst"), col("deg")).cache()
    val pr = pageRankLoop(nodes, weighted, n)
    weighted.unpersist()
    edges.unpersist(); nodes.unpersist()
    pageRankFinish(pr)
  }

  /** The power iterations over prebuilt (nodes, weighted, n) — shared
    * by the memoizing registered path and the cache-owning core.
    * `eagerFinal` materializes the final checkpoint before returning —
    * required when the caller unpersists the loop's inputs (the r10
    * rule); the memoized path defers it to its caller's action. */
  private def pageRankLoop(nodes: DataFrame, weighted: DataFrame, n: Long,
                           eagerFinal: Boolean = true): DataFrame = {
    var pr = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    for (t <- 1 to PrIters) {
      val contrib = weighted
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("cin"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - PrDamping) / n) + lit(PrDamping) * coalesce(col("cin"), lit(0.0))).as("pr"))
      // lineage grows one join layer per iteration (pr appears once in
      // its successor), so a checkpoint every few rounds bounds plan
      // depth without paying an eager materialization job per round —
      // ten of which dominated wall time at catalog scale (4.6 s → one
      // job); at billion-edge scale the cadence is the tuning knob
      // LAZY mark (r15): truncates the logical plan immediately; the
      // RDD materializes inside whichever job first computes it, so
      // mid-loop checkpoints no longer cost a job each
      if (t % 4 == 0) pr = pr.localCheckpoint(false)
    }
    // materialize the FINAL frame before releasing its inputs (r10
    // review: iterations past the last in-loop checkpoint lived as
    // live joins against `weighted`/`nodes`, so the caller's action
    // re-ran the degree build plus two power iterations uncached)
    pr.localCheckpoint(eagerFinal)
  }

  private def pageRankFinish(pr: DataFrame): DataFrame =
    pr.select(col("node"), graft.functions.dround(col("pr"), 6).as("pr"))
      .orderBy("node")

  val pageRankQ: GraftQuery = {
    val base = s"""nodes AS (
      SELECT DISTINCT trigger_uuid AS node FROM pipeline_triggers
      UNION
      SELECT DISTINCT pipeline_uuid AS node FROM pipeline_triggers),
    edges AS (SELECT DISTINCT trigger_uuid AS src, pipeline_uuid AS dst
              FROM pipeline_triggers),
    degs AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS pr FROM nodes)"""
    val iters = (1 to PrIters).map { t =>
      s"""pr$t AS (
      SELECT n.node,
             (1 - $PrDamping) / (SELECT COUNT(*) FROM nodes) +
             $PrDamping * COALESCE(SUM(pp.pr / dg.deg), 0) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN pr${t - 1} pp ON pp.node = e.src
      LEFT JOIN degs dg ON dg.node = e.src
      GROUP BY n.node)"""
    }.mkString(",\n    ")
    GraftQuery.checked("ns_dag_pagerank",
      "WITH " + Fixtures.edgesCte + s""",
    $base,
    $iters
    SELECT node, ROUND(pr, 6) AS pr FROM pr$PrIters ORDER BY node""")(
      (spark, _) => pageRank(spark))
  }

  /** TRIANGLE COUNT + local clustering coefficient over the
    * undirected trigger graph — the "how clique-ish is each node's
    * neighbourhood" complement to [[pageRankQ]]'s hub score (dense
    * trigger clusters are where a single failure fans out AND feeds
    * back).
    *
    * Scale shape — DEGREE-ORDERED node-iterator (compact-forward),
    * never the naive 3-way id-join: orient every undirected edge from
    * its lower (deg, node) endpoint to the higher; each triangle then
    * has exactly ONE vertex with two out-edges, so wedges (two
    * out-edges of one center) enumerate each triangle once, and the
    * closing check is a canonical-pair equi-join back to the edge
    * list. Wedge volume is Σ out-deg² with out-degrees bounded by
    * ~√m under this orientation — the whale-hub node whose id-ordered
    * wedge set explodes quadratically becomes a wedge CENTER of last
    * resort instead. All stages are hash equi-joins; the degree frame
    * is node-sized and broadcast. The oracle is the brute-force
    * id-ordered 3-way join — the gate proves orientation loses no
    * triangle (the [[TextFuzzy]] sound-vs-fast contract). */
  private[graft] def triangleCore(und0: DataFrame): DataFrame = {
    val und = und0.cache()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("dega"))), Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("degb"))), Seq("b"))
      .select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")), col("b"))
          .otherwise(col("a")).as("v"))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.u") === col("o2.u") && col("o1.v") < col("o2.v"))
      .select(col("o1.u").as("u"),
        least(col("o1.v"), col("o2.v")).as("a"),
        greatest(col("o1.v"), col("o2.v")).as("b"))
    val tris = wedges.join(und, Seq("a", "b"))
    val tcnt = tris
      .select(explode(array(col("u"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(tcnt, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        graft.functions.dround(
          lit(2.0) * coalesce(col("tri"), lit(0L)) /
            nullif(col("deg") * (col("deg") - lit(1.0)), lit(0.0)), 6).as("cc"))
      .orderBy("node")
  }

  val trianglesQ: GraftQuery = GraftQuery.checked("ns_dag_triangles",
    "WITH " + Fixtures.edgesCte + """,
    und AS (
      SELECT LEAST(trigger_uuid, pipeline_uuid) AS a,
             GREATEST(trigger_uuid, pipeline_uuid) AS b
      FROM pipeline_triggers WHERE trigger_uuid <> pipeline_uuid
      GROUP BY 1, 2),
    deg AS (SELECT node, COUNT(*) AS deg
            FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
            GROUP BY node),
    tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
    tcnt AS (SELECT node, COUNT(*) AS tri
             FROM (SELECT u AS node FROM tri
                   UNION ALL SELECT v FROM tri
                   UNION ALL SELECT w FROM tri)
             GROUP BY node)
    SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
           ROUND(2.0 * COALESCE(t.tri, 0) / NULLIF(d.deg * (d.deg - 1.0), 0), 6) AS cc
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    ORDER BY d.node""") { (spark, _) =>
    triangleCore(Fixtures.edgesDS(spark)
      .where(col("trigger_uuid") =!= col("pipeline_uuid"))
      .select(least(col("trigger_uuid"), col("pipeline_uuid")).as("a"),
        greatest(col("trigger_uuid"), col("pipeline_uuid")).as("b"))
      .distinct())
  }

  /** CO-TRIGGER PROJECTION — the bipartite pipeline↔trigger relation
    * projected onto pipelines: edge (p_a, p_b, n_shared) when two
    * pipelines listen to n_shared common triggers. The "coupled
    * consumers" view the blast-radius ops ([[downstream]],
    * [[dagClosureQ]]) don't show: these pairs fire TOGETHER, so a
    * burst on one trigger lands on both.
    *
    * Scale note: a trigger with fanout F contributes C(F,2) pairs —
    * that term IS the projection's output (every pair is an emitted
    * edge), so the plan is output-bound, not wasted work; the
    * trigger-keyed equi-join hash-partitions, and a whale trigger
    * that makes the OUTPUT itself unwanted (F ~ 10⁵ ⇒ 10¹⁰ edges) is
    * excluded at the source by a fanout cap on the trigger frame —
    * the standard projection-pruning knob, not implemented here
    * because catalog fanout is definitionally bounded. */
  val coTrigger: GraftQuery = GraftQuery.checked("ns_dag_cotrigger",
    "WITH " + Fixtures.edgesCte + """,
    e AS (SELECT DISTINCT trigger_uuid, pipeline_uuid FROM pipeline_triggers)
    SELECT a.pipeline_uuid AS p_a, b.pipeline_uuid AS p_b, COUNT(*) AS n_shared
    FROM e a JOIN e b ON a.trigger_uuid = b.trigger_uuid
                     AND a.pipeline_uuid < b.pipeline_uuid
    GROUP BY p_a, p_b
    ORDER BY p_a, p_b""") { (spark, _) =>
    val e = Fixtures.edgesDS(spark).select("trigger_uuid", "pipeline_uuid").distinct()
    e.toDF("trigger_uuid", "p_a")
      .join(e.toDF("trigger_uuid", "p_b"),
        Seq("trigger_uuid"))
      .where(col("p_a") < col("p_b"))
      .groupBy("p_a", "p_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("p_a", "p_b")
  }

  /** h-index propagation rounds for [[corenessQ]]. Convergence is
    * NOT assumed — an extra fixpoint round after the loop throws
    * loudly if any node would still move (the [[graft.operators.Dedup]]
    * connectedComponents contract). Rounds-to-converge is the "core
    * erosion depth" of the graph — small for clustered catalog DAGs,
    * up to O(path length) on degenerate chains, which is what the
    * check catches. */
  private[graft] val CoreIters = 12

  /** CORENESS (k-core decomposition) over the undirected trigger
    * graph — the third centrality after [[pageRankQ]] (flow) and
    * [[trianglesQ]] (local density): a node's core number is the
    * largest k such that it survives in the subgraph where every node
    * keeps ≥ k neighbours. High-core pipelines sit in densely
    * interlocked trigger clusters — the "can't remove one without
    * destabilizing the rest" set that pure degree misses (a hub with
    * 50 leaf children has core 1).
    *
    * Scale shape — ITERATED H-INDEX, not sequential peeling: the
    * classic O(m) peel removes the current-minimum-degree node one at
    * a time, a global sequential frontier no distributed engine can
    * partition. Instead each round replaces every node's value with
    * the H-INDEX of its neighbours' values (h = max h such that ≥ h
    * neighbours hold value ≥ h); Lü et al. 2016 prove this fixpoint
    * IS the core number. Each round is one hash join (adjacency ×
    * current values, partitioned on node) and one per-node window
    * sort bounded by degree — O(m log dmax) work, no global order.
    * The h-index depends only on the multiset of neighbour VALUES
    * (ties in the sort permute equal values), so every round — and
    * therefore the fixpoint — is deterministic and the DuckDB oracle
    * replays the identical [[CoreIters]] rounds bit-for-bit as
    * unrolled CTEs (the [[pageRankQ]] convention). Each round is
    * localCheckpointed: the convergence probe and the next round both
    * read it, and the checkpoint bounds lineage depth. */
  private[graft] def corenessCore(und0: DataFrame,
                                  maxIters: Int = CoreIters): DataFrame = {
    val und = und0.cache()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr"))).cache()
    val out = corenessLoop(adj, maxIters)
    und.unpersist(); adj.unpersist()
    out
  }

  /** The h-index rounds over a prebuilt cached adjacency — shared by
    * the memoizing registered path and the cache-owning core. */
  private def corenessLoop(adj: DataFrame, maxIters: Int): DataFrame = {
    def hRound(c: DataFrame): DataFrame = {
      val w = Window.partitionBy("node").orderBy(col("ncv").desc)
      adj.join(c.select(col("node").as("nbr"), col("cv").as("ncv")), Seq("nbr"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("node").agg(max(least(col("rn"), col("ncv"))).as("cv"))
    }
    // iterate UNTIL the fixpoint (checked every round — the
    // connectedComponents convention), capped at CoreIters. The h
    // operator is idempotent at its fixpoint, so stopping early still
    // matches the oracle's full CoreIters unrolled rounds: rounds past
    // convergence are the identity on both engines. Early exit cuts
    // the fixture run from 12 rounds to its ~2-round erosion depth;
    // at scale the per-round isEmpty is the standard convergence-probe
    // cost, paid against never running wasted corpus-wide rounds.
    // r15: checkpoint marks are LAZY; the convergence count is the
    // round's single job and materializes every checkpoint partition
    // (count, not isEmpty — take(1) could stop short of that)
    var c = adj.groupBy("node").agg(count(lit(1)).as("cv")).localCheckpoint(true)
    var converged = false
    var t = 0
    while (!converged && t < maxIters) {
      val next = hRound(c).localCheckpoint(false)
      converged = next.join(c.withColumnRenamed("cv", "prev"), "node")
        .where(col("cv") =!= col("prev")).count() == 0
      c = next; t += 1
    }
    // a value that would still drop means the h-index cascade hasn't
    // reached its fixpoint = core numbers are silently wrong — throw
    if (!converged)
      throw new IllegalStateException(
        s"coreness did not converge after $maxIters h-index rounds — " +
        s"core erosion depth exceeds maxIters; raise maxIters")
    c.select(col("node"), col("cv").as("core")).orderBy("node")
  }

  val corenessQ: GraftQuery = {
    val iters = (1 to CoreIters).map { t =>
      s"""c$t AS (
      SELECT node, MAX(LEAST(rn, ncv)) AS cv FROM (
        SELECT a.node, p.cv AS ncv,
               ROW_NUMBER() OVER (PARTITION BY a.node ORDER BY p.cv DESC) AS rn
        FROM adj a JOIN c${t - 1} p ON p.node = a.nbr)
      GROUP BY node)"""
    }.mkString(",\n    ")
    GraftQuery.checked("ns_dag_kcore",
      "WITH " + Fixtures.edgesCte + s""",
    und AS (
      SELECT LEAST(trigger_uuid, pipeline_uuid) AS a,
             GREATEST(trigger_uuid, pipeline_uuid) AS b
      FROM pipeline_triggers WHERE trigger_uuid <> pipeline_uuid
      GROUP BY 1, 2),
    adj AS (SELECT a AS node, b AS nbr FROM und
            UNION ALL SELECT b, a FROM und),
    c0 AS (SELECT node, COUNT(*) AS cv FROM adj GROUP BY node),
    $iters
    SELECT node, CAST(cv AS BIGINT) AS core FROM c$CoreIters ORDER BY node""") {
      (spark, _) =>
        // the undirected adjacency is a static fixture artifact —
        // memoized like [[dagEdges]] (r15)
        corenessLoop(OpMemo.cached(spark, "", "meta:dag-adj") {
          val und = Fixtures.edgesDS(spark)
            .where(col("trigger_uuid") =!= col("pipeline_uuid"))
            .select(least(col("trigger_uuid"), col("pipeline_uuid")).as("a"),
              greatest(col("trigger_uuid"), col("pipeline_uuid")).as("b"))
            .distinct()
          und.select(col("a").as("node"), col("b").as("nbr"))
            .union(und.select(col("b").as("node"), col("a").as("nbr")))
        }, CoreIters)
    }
  }

  /** Per-pipeline RUN RELIABILITY over the lifecycle history — the
    * scheduler-SRE dashboard query every operator of the reference
    * actually runs against its Mongo event log (D10's data answering
    * "which pipelines are flaky"): terminal-event counts, success rate
    * (exact integer micro-units — FLOOR(succ·10⁶ / terminal), NULL
    * when a pipeline has no terminal events yet), the deepest retry
    * seen, and the last event time. One pass over the history with
    * map-side partials to |pipelines| rows; at an unbounded event log
    * this is the same scan-dominant shape as K10, no join at all. */
  val runReliability: GraftQuery = GraftQuery.checked("ns_meta_reliability",
    withCtes("""SELECT pipeline_uuid,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_subtype = 'success' THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
           CAST(SUM(CASE WHEN event_subtype = 'failure' THEN 1 ELSE 0 END) AS BIGINT) AS n_failure,
           CAST(MAX(retry_count) AS INTEGER) AS max_retry,
           CASE WHEN SUM(CASE WHEN event_subtype IN ('success', 'failure') THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(CASE WHEN event_subtype = 'success' THEN 1 ELSE 0 END) * 1000000
                       // SUM(CASE WHEN event_subtype IN ('success', 'failure') THEN 1 ELSE 0 END) AS BIGINT)
                ELSE NULL END AS success_rate_micro,
           MAX(event_time) AS last_event_time
      FROM lifecycle_events
      GROUP BY pipeline_uuid ORDER BY pipeline_uuid""")) { (spark, dir) =>
    val succ = sum(when(col("event_subtype") === "success", 1L).otherwise(0L))
    val fail = sum(when(col("event_subtype") === "failure", 1L).otherwise(0L))
    Fixtures.lifecycleEventsDF(spark, dir)
      .groupBy("pipeline_uuid")
      .agg(count(lit(1)).as("n_events"),
        succ.as("n_success"),
        fail.as("n_failure"),
        max("retry_count").as("max_retry"),
        max("event_time").as("last_event_time"))
      .withColumn("success_rate_micro",
        when(col("n_success") + col("n_failure") > 0,
          expr("n_success * 1000000L div (n_success + n_failure)")))
      .select("pipeline_uuid", "n_events", "n_success", "n_failure", "max_retry",
        "success_rate_micro", "last_event_time")
      .orderBy("pipeline_uuid")
  }

  val all: Seq[GraftQuery] = Seq(
    prefixHeaders, tagFilter, pointLookup, downstream, danglingTriggers,
    concurrencyGate, fanoutSplit, unknownOrigin, historyPage, runningFilter,
    distinctIncubating, uuidRegexCount, oldestWaiting, retryGate, ageOut,
    debounceExpired, depsSatisfied, dagClosureQ, criticalPathQ, pageRankQ, trianglesQ, coTrigger,
    corenessQ, runReliability)
}
