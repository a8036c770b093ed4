package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.GraftQuery.checked
import graft.meta.Fixtures.withCtes
import graft.sources.Tables

/** Second wave of analytics-parity operators: sessionization,
  * hierarchical rollup, set operations, anti-join/HAVING shapes, and
  * the E8 run-projection — rounding out the relational surface beyond
  * K19–K23.
  */
object Analytics2 {

  /** Sessionization (the full form of K23's "sessionize-lite"): Spark
    * plans it with the native `session_window` operator (gap-merged
    * event-time sessions — the same state machine the streaming path
    * uses); the oracle is the classic gaps-and-islands SQL. 30-minute
    * gap; deterministic via (user_id, session_start) ordering.
    *
    * Scale: session_window aggregates shuffle once on user_id and
    * merge windows within each key — no self-join, no window-function
    * double sort.
    */
  // boundary semantics VERIFIED empirically (GeneralInputSpec): Spark
  // session_window MERGES an event landing exactly at last+gap into
  // the running session, i.e. the break condition is strictly-greater —
  // exactly the oracle's `> INTERVAL 30 MINUTE`. (An r7 review claim
  // that the two engines diverge at the boundary was refuted by test.)
  val sessions: GraftQuery = checked("ns_sessions",
    """WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    islands AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, sid
    ORDER BY user_id, session_start""") { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  }

  /** Hierarchical ROLLUP: revenue by region → nation → total, the
    * grouping-sets surface (bench: partial aggregation reused across
    * grouping sets in one pass). */
  val revenueRollup: GraftQuery = checked("ns_revenue_rollup",
    """SELECT r.r_name, n.n_name,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal,
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""") { (spark, dir) =>
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    // grouping columns renamed around the rollup: Expand re-emits
    // nullable copies of the originals, making bare names ambiguous
    val base = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("r_name").as("g_r"), col("n_name").as("g_n"), col("c_acctbal"))
    // the DataFrame rollup API re-emits grouping attributes through
    // Expand, tripping the ambiguous-self-join check on any later
    // by-name reference — the SQL surface resolves ROLLUP cleanly
    base.createOrReplaceTempView("rollup_base")
    base.sparkSession.sql(
      """SELECT g_r AS r_name, g_n AS n_name,
           round(SUM(c_acctbal) * 100, 0) / 100 AS total_acctbal,
           COUNT(*) AS n_customers
         FROM rollup_base GROUP BY ROLLUP(g_r, g_n)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
  }

  /** CUBE over (status, priority) — the full grouping-sets lattice
    * (ROLLUP's sibling; every warehouse's cross-dim summary page).
    * GROUPING() markers ride along so subtotal rows are identified
    * structurally, not by NULL-sniffing (a real NULL in a grouping
    * column would be indistinguishable otherwise), and double ORDER
    * BY keys on the markers keep the lattice order engine-stable.
    * Revenue is summed in exact integer cents (the [[EventStats]]
    * convention) — 2²·|status×priority| subtotal rows of exact
    * BIGINTs, partial-aggregated map-side through Spark's Expand.
    * Same temp-view SQL surface as [[revenueRollup]] (the DataFrame
    * cube API re-emits grouping attributes through Expand, tripping
    * the ambiguous-self-join check on later by-name references). */
  val revenueCube: GraftQuery = checked("ns_revenue_cube",
    """SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, status NULLS FIRST, priority NULLS FIRST""") { (spark, dir) =>
    val base = Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("g_s"), col("o_orderpriority").as("g_p"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents_1"))
    base.createOrReplaceTempView("cube_base")
    base.sparkSession.sql(
      """SELECT g_s AS status, g_p AS priority,
           CAST(grouping(g_s) AS INT) AS g_status,
           CAST(grouping(g_p) AS INT) AS g_priority,
           SUM(cents_1) AS cents, COUNT(*) AS n_orders
         FROM cube_base GROUP BY CUBE(g_s, g_p)
         ORDER BY g_status, g_priority, status ASC NULLS FIRST, priority ASC NULLS FIRST""")
  }

  /** Set operations: customers present in ASIA INTERSECT customers
    * with an open order, then EXCEPT the auto-mkt segment — exercises
    * INTERSECT/EXCEPT (hash-dedup set ops) beyond E2's union. */
  val setOps: GraftQuery = checked("ns_set_ops",
    """SELECT c_custkey FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'ASIA'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    ORDER BY c_custkey""") { (spark, dir) =>
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val asia = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .where(col("r_name") === "ASIA").select("c_custkey")
    val open = Tables.orders(spark, dir).where(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey"))
    val auto = c.where(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
    asia.intersect(open).except(auto).orderBy("c_custkey")
  }

  /** Anti-join + HAVING shape: customers with ≥ 5 orders but no open
    * order (left-anti against the open set). */
  val loyalClosed: GraftQuery = checked("ns_loyal_closed_customers",
    """SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders op WHERE op.o_custkey = o.o_custkey AND op.o_orderstatus = 'O')
    GROUP BY o_custkey HAVING COUNT(*) >= 5
    ORDER BY c_custkey""") { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val open = o.where(col("o_orderstatus") === "O").select("o_custkey")
    o.join(open, Seq("o_custkey"), "left_anti")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= 5)
      .orderBy("c_custkey")
  }

  /** E8 run projection (`engine.py:182-197` unmarshall): tracking view
    * of running jobs with the reference's `%Y%m%d-%H:%M:%S` timestamp
    * format; its 'NA' placeholder becomes NULL (deviation SURVEY §8). */
  val runProjection: GraftQuery = checked("ns_run_projection",
    withCtes("""SELECT exec_uuid, pipeline_uuid, engine_status,
           strftime(start_time, '%Y%m%d-%H:%M:%S') AS start_fmt,
           strftime(end_time, '%Y%m%d-%H:%M:%S') AS end_fmt
    FROM running_jobs ORDER BY exec_uuid""")) { (spark, _) =>
    graft.meta.Fixtures.runningDS(spark)
      .select(col("exec_uuid"), col("pipeline_uuid"), col("engine_status"),
        date_format(col("start_time"), "yyyyMMdd-HH:mm:ss").as("start_fmt"),
        date_format(col("end_time"), "yyyyMMdd-HH:mm:ss").as("end_fmt"))
      .orderBy("exec_uuid")
  }

  /** Data-profiling aggregates (the corpus-QA pass every training
    * pipeline runs before ingest): row count, distinct cardinality,
    * min/max/median/mean per numeric column, grouped by a partition
    * key. Exact percentile (sort + linear interpolation — the same
    * definition as DuckDB's quantile_cont); at 100 TB the swap is
    * `percentile_approx` (t-digest sketch, mergeable map-side), which
    * changes one function name, not the plan shape. */
  val profile: GraftQuery = checked("ns_profile",
    """SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS med_price,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("l_suppkey").as("n_supp"),
        graft.functions.dround(min("l_extendedprice"), 2).as("min_price"),
        graft.functions.dround(max("l_extendedprice"), 2).as("max_price"),
        graft.functions.dround(expr("percentile(l_extendedprice, 0.5)"), 2).as("med_price"),
        graft.functions.dround(avg("l_discount"), 4).as("avg_disc"))
      .orderBy("l_returnflag")
  }

  /** AS-OF JOIN — the time-series operator Spark has no primitive for
    * (builder brief's canonical example): attach to every purchase the
    * most recent view at-or-before it by the same user.
    *
    * Formulation: union both sides tagged, ONE shuffle on user_id, one
    * sort by (ts, side, id), and a running `last(..., ignoreNulls)`
    * window carries the latest view forward — the merge-sort as-of of
    * kdb/Flink, not a per-row range subquery (which re-scans the build
    * side per probe) and not an interval-explode join (which inflates
    * rows by the window width). Ties: views sort before purchases at
    * equal ts (`<=` semantics), and same-ts views collapse to the max
    * event_id FIRST on both sides, so the pick is deterministic where
    * native ASOF JOIN (the DuckDB oracle) leaves it unspecified.
    *
    * At 100 TB: both sides partition by user; state per row is O(1)
    * (the running view id/ts) — the same shape the streaming path
    * would run with `mapGroupsWithState`. */
  val asofJoin: GraftQuery = checked("ns_asof_join",
    """WITH views AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      FROM events WHERE event_type = 'purchase')
    SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_id, v.ts AS view_ts
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.purchase_ts
    ORDER BY p.purchase_id""") { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("event_id").as("id"))
      .withColumn("side", lit(0))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("id"), lit(1).as("side"))
    asofCore(views.unionByName(purchases)).orderBy("purchase_id")
  }

  /** The as-of window core over a tagged `(user_id, ts, side, id)`
    * union. Scaling numbers: BASELINE.md "Round 4", round-5
    * weak-scaling + skew tables. */
  private[graft] def asofCore(tagged: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "side", "id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tagged
      .withColumn("view_id", last(when(col("side") === 0, col("id")), ignoreNulls = true).over(w))
      .withColumn("view_ts", last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("view_id"), col("view_ts"))
  }

  /** APPROX-PERCENTILE soundness gate: [[profile]] documents
    * `percentile_approx` as its 100 TB swap; this query PROVES the
    * swap's rank-error contract on this build instead of trusting the
    * doc comment. Per group, the sketch median (accuracy A = 1000 ⇒
    * rank error ≤ n/A) is audited against EXACT ranks: with
    * cnt_lt = #{v < approx} and cnt_le = #{v ≤ approx}, soundness is
    * cnt_lt ≤ n(½ + 1/A) + 1 and cnt_le ≥ n(½ − 1/A) − 1 (±1 for the
    * returned-element-is-a-sample edge). Violating groups are emitted;
    * the oracle is the empty relation (the `_sound` convention —
    * DuckDB cannot replay the sketch, but it can agree nothing
    * violated the bound).
    *
    * Scale: the sketch aggregation is mergeable map-side (that is the
    * point of the swap); the audit pass joins the group-sized sketch
    * frame back broadcast — two single-shuffle corpus passes, and the
    * audit itself is droppable in production once gated here. */
  val profileApproxSound: GraftQuery = checked("ns_profile_approx_sound",
    """SELECT CAST(NULL AS VARCHAR) AS l_returnflag, CAST(NULL AS DOUBLE) AS approx_med,
           CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS cnt_lt,
           CAST(NULL AS BIGINT) AS cnt_le
    WHERE 1 = 0""") { (spark, dir) =>
    val acc = 1000
    val li = Tables.lineitem(spark, dir)
    val sk = li.groupBy("l_returnflag")
      .agg(expr(s"approx_percentile(l_extendedprice, 0.5D, $acc)").as("approx_med"),
        count(lit(1)).as("n_rows"))
    li.join(broadcast(sk), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("approx_med"), col("n_rows"))
      .agg(sum(when(col("l_extendedprice") < col("approx_med"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(col("l_extendedprice") <= col("approx_med"), 1L).otherwise(0L)).as("cnt_le"))
      .where(col("cnt_lt") > col("n_rows") * (0.5 + 1.0 / acc) + 1 ||
        col("cnt_le") < col("n_rows") * (0.5 - 1.0 / acc) - 1)
      .orderBy("l_returnflag")
  }

  val all: Seq[GraftQuery] = Seq(sessions, revenueRollup, revenueCube, setOps, loyalClosed,
    runProjection, profile, asofJoin, profileApproxSound)
}
