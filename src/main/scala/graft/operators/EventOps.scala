package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.GraftQuery.checked
import graft.functions.dround
import graft.sources.Tables

/** Event-stream analytics beyond plain tumbling aggregation (K22) and
  * sessionization (`ns_sessions`): bounded-window conversion
  * attribution and per-type daily ANOMALY detection — the monitoring
  * surface a pipeline orchestrator wants over its own event log as much
  * as over user events.
  */
object EventOps {

  /** Conversion ATTRIBUTION: for every purchase, how many same-user
    * touch events (and clicks specifically) landed in the preceding
    * hour.
    *
    * Scale design — a MERGE SCAN, not a range join: the naive
    * formulation (equi-join on user_id + two time-range predicates)
    * sort-merges on the key and then evaluates the range conditions as
    * post-match filters inside each key group, so a whale user with P
    * purchases and T touches costs P×T pair evaluations — the per-key
    * quadratic the as-of join deliberately avoids
    * ([[Analytics2.asofCore]]; round-4 verdict #2). Here both sides
    * union into ONE tagged stream, shuffle once on user_id, sort once
    * by event time, and a 1-hour RANGE frame (`rangeBetween` over unix
    * microseconds, upper bound −1 µs for the strict `< p_ts` edge)
    * counts touches/clicks per purchase row. Spark's sliding range
    * frame advances two monotone pointers per partition — each row
    * enters and leaves the frame exactly once — so a whale user costs
    * O(n log n) (the sort), with no pair-count growth term; the
    * 10%-of-rows whale weak-scaling run measures exactly this
    * (BASELINE.md "Round 4", round-5 weak-scaling + skew tables). The 1-hour bound is what keeps frame state finite.
    *
    * Zero-touch purchases keep their row with count 0 (COUNT of a
    * conditional marker over an empty frame), matching the oracle's
    * LEFT JOIN + COUNT(t.ts). Timestamps compare at microsecond
    * precision on both engines (`Tables.events` truncates; the oracle
    * CASTs ns → µs TIMESTAMP, as `ns_sessions` does).
    */
  val attribution: GraftQuery = checked("ns_events_attribution",
    """SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(t.ts) AS n_touches,
           COUNT(CASE WHEN t.event_type = 'click' THEN 1 END) AS n_clicks
    FROM events p LEFT JOIN events t
      ON t.user_id = p.user_id AND t.event_type <> 'purchase'
      AND CAST(t.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
      AND CAST(t.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
    WHERE p.event_type = 'purchase'
    GROUP BY purchase_id, p.user_id
    ORDER BY purchase_id""") { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val tagged = ev.select(col("user_id"), col("ts"),
      // NULL event_type is NEITHER side (r10 review: the oracle's
      // `t.event_type <> 'purchase'` predicate drops NULL-typed rows
      // from the touch count, while otherwise(0) counted them - the
      // two sides encoded opposite NULL semantics, latent on the
      // non-null fixture vocabulary)
      when(col("event_type") === "purchase", 1)
        .when(col("event_type").isNotNull, 0).as("side"),
      col("event_id").as("id"),
      (col("event_type") === "click").as("is_click"))
    attributionCore(tagged).orderBy("purchase_id")
  }

  /** The attribution window core over a tagged
    * `(user_id, ts, side, id, is_click)` union (side 1 = purchase,
    * 0 = touch). Scaling and whale-user skew numbers: BASELINE.md
    * "Round 4", round-5 weak-scaling + skew tables. */
  private[graft] def attributionCore(tagged: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600L * 1000000L, -1L)
    tagged
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("n_touches", count(when(col("side") === 0, 1)).over(w))
      .withColumn("n_clicks", count(when(col("side") === 0 && col("is_click"), 1)).over(w))
      .where(col("side") === 1)
      .select(col("id").as("purchase_id"), col("user_id"),
        col("n_touches"), col("n_clicks"))
  }

  /** Per-type daily volume ANOMALIES: z-score of each day's event count
    * against that type's full-range mean/stddev, flagging |z| ≥ 2.
    *
    * Determinism contract (the k-means playbook): daily counts are
    * integers, so Σn and Σn² are EXACT — both sides compute variance
    * from the same closed formula (Q − S²/c)/(c−1) over exact sums
    * instead of each engine's streaming variance kernel, whose
    * accumulation order varies. Q is summed as DECIMAL(38,0) on the
    * Spark side and HUGEINT on the oracle side (round-4 advice: a
    * BIGINT Σn² wraps silently in Spark once a daily count exceeds
    * ~3·10⁹ — plausible at 100 TB — while DuckDB would error).
    * Degenerate divisors are guarded to NULL identically on both
    * engines (c = 1 → NULL sample variance; zero variance → NULL z),
    * where unguarded arithmetic diverges: non-ANSI Spark yields NULL on
    * x/0, DuckDB yields ±inf/nan. One narrow aggregate (type × ~30
    * days) then a broadcast-sized join back — at 100 TB the only
    * corpus-wide pass is the groupBy(type, day) count, which
    * partial-aggregates map-side before the (tiny) shuffle.
    */
  val anomalies: GraftQuery = checked("ns_events_anomaly",
    """WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY event_type, day),
    stats AS (
      SELECT event_type, COUNT(*) AS c, SUM(n) AS s,
             SUM(CAST(n AS HUGEINT) * n) AS q
      FROM daily GROUP BY event_type),
    scored AS (
      SELECT d.event_type, d.day, d.n,
             (d.n - CAST(s AS DOUBLE) / c) /
               NULLIF(sqrt((q - CAST(s AS DOUBLE) * s / c) / NULLIF(c - 1, 0)), 0) AS z0
      FROM daily d JOIN stats USING (event_type))
    SELECT event_type, day, n, ROUND(z0, 4) AS z,
           CAST(ABS(z0) >= 2.0 AS BOOLEAN) AS is_anomaly
    FROM scored
    ORDER BY event_type, day""") { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("c"), sum("n").as("s"),
        sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")).as("q"))
    val c1 = when(col("c") > 1, (col("c") - 1).cast("double")) // NULL at c = 1
    val sd = sqrt((col("q").cast("double") - col("s").cast("double") * col("s") / col("c")) / c1)
    val sdN = when(sd =!= 0.0, sd) // NULL at zero variance (NULL stays NULL)
    val z = (col("n") - col("s").cast("double") / col("c")) / sdN
    daily.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("day"), col("n"),
        dround(z, 4).as("z"), (abs(z) >= 2.0).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  private val HotValueMin = 200

  /** INTERVAL-OVERLAP JOIN: user sessions × corpus-wide "hot windows"
    * (±15 min around every high-value purchase) — count, per session,
    * how many hot windows it overlaps. The general interval×interval
    * theta-join Spark has no native operator for (as-of covers only
    * nearest-predecessor; K22/sessions cover only fixed/gap windows).
    *
    * Scale design — BIN BUCKETIZATION turns the theta-join into an
    * equi-join: written naively (`ON s.start <= w.end AND w.start <=
    * s.end`, the oracle's formulation) Spark has no equi-key and plans
    * BroadcastNestedLoopJoin — O(|S|·|W|) comparisons with the build
    * side pinned in every executor's memory, a non-starter when both
    * sides are corpus-sized. Instead each interval replicates into the
    * 1-hour time bins it touches (`explode(sequence(bin(start),
    * bin(end)))` — bounded fan-out: hot windows are 30 min wide so ≤ 2
    * bins; sessions are gap-bounded) and the join becomes `ON s.bin =
    * w.bin AND overlap` — hash-partitionable by bin, broadcast-able
    * when one side is small (Catalyst picks BHJ here at test scale),
    * AQE-skew-splittable when one hour is hot. A pair overlapping in
    * several shared bins must count ONCE: the EMIT-ONCE predicate
    * `w.bin = bin(greatest(s.start, w.start))` (the first shared bin —
    * both intervals provably cover that instant) makes the join emit
    * each true pair exactly once, with no post-join
    * distinct/dropDuplicates exchange — the same dedup-free trick the
    * SimHash band join uses. Zero-overlap sessions survive via LEFT
    * join (their bin replicas match nothing; COUNT of the null probe
    * key is 0 after the per-session regroup). Bin width is a tuning
    * knob: W must be ≥ nothing in particular (correctness never
    * depends on it) but replication is O(len/W) per interval while
    * per-bin pair work grows with W — at 100 TB pick W from the
    * interval-length distribution; 1 h here matches the 30-min gap
    * bound on sessions.
    */
  val intervalJoin: GraftQuery = checked("ns_events_interval_join",
    s"""WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             -- event_id rides along for the islands tiebreak (r10
             -- review: a ROWS running sum over ts alone leaves
             -- tied-timestamp rows at a session break in an
             -- underdetermined order - the brk=0 twin could land in
             -- the OLD session while Spark's session_window puts both
             -- in the new one; scd2's islands already carry it)
             CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    islands AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    sessions AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM islands GROUP BY user_id, sid),
    hot AS (
      SELECT event_id AS hot_id,
             CAST(ts AS TIMESTAMP) - INTERVAL 15 MINUTE AS w_start,
             CAST(ts AS TIMESTAMP) + INTERVAL 15 MINUTE AS w_end
      FROM events WHERE event_type = 'purchase' AND value >= $HotValueMin)
    SELECT s.user_id, s.session_start, s.n_events,
           COUNT(h.hot_id) AS n_hot_windows
    FROM sessions s LEFT JOIN hot h
      ON s.session_start <= h.w_end AND h.w_start <= s.session_end
    GROUP BY s.user_id, s.session_start, s.n_events
    ORDER BY s.user_id, s.session_start""") { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val sess = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
    val hot = ev
      .filter(col("event_type") === "purchase" && col("value") >= HotValueMin)
      .select(col("event_id").as("hot_id"),
        (col("ts") - expr("INTERVAL 15 MINUTES")).as("w_start"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("w_end"))
    intervalJoinCore(sess, hot)
      .orderBy("user_id", "session_start")
  }

  /** 1-hour time bins for [[intervalJoinCore]]. */
  private val BinUs = 3600L * 1000000L

  /** The bucketized interval-overlap core over `(user_id,
    * session_start, session_end, n_events)` × `(hot_id, w_start,
    * w_end)`. */
  private[graft] def intervalJoinCore(sess: DataFrame, hot: DataFrame): DataFrame = {
    val bin = (c: Column) => floor(unix_micros(c).cast("double") / BinUs).cast("long")
    val s = sess.withColumn("bin", explode(sequence(bin(col("session_start")), bin(col("session_end"))))).as("s")
    val h = hot.withColumn("bin", explode(sequence(bin(col("w_start")), bin(col("w_end"))))).as("h")
    s.join(h,
        col("s.bin") === col("h.bin") &&
          col("s.session_start") <= col("h.w_end") &&
          col("h.w_start") <= col("s.session_end") &&
          col("h.bin") === bin(greatest(col("s.session_start"), col("h.w_start"))),
        "left")
      .groupBy(col("s.user_id"), col("s.session_start"), col("s.n_events"))
      .agg(count(col("h.hot_id")).as("n_hot_windows"))
  }

  /** COHORT RETENTION matrix — the classic event-analytics surface:
    * users grouped by first-seen week, each cell = how many of that
    * cohort were active `week_offset` weeks later, with the retention
    * ratio against cohort size.
    *
    * Scale shape: cohort assignment is one user-keyed aggregate
    * (map-side partial MIN); the activity matrix joins events back to
    * cohorts on the SAME user key (the shuffle partitioning is
    * reusable across the two stages), then a DISTINCT on (cohort,
    * offset, user) — one corpus-wide shuffle — collapses to a
    * weeks×weeks matrix. Cohort sizes (weeks-sized, tiny) broadcast
    * back. At 100 TB the documented swap is `approx_count_distinct`
    * (HLL, mergeable map-side) per cell in place of the exact
    * DISTINCT, the same trade `ns_text_vocab_approx` demonstrates
    * with a verified error bound. Determinism: week_offset arithmetic
    * stays integer-exact on both engines (both weeks are Monday
    * truncations, so the day diff divides by 7 exactly; the oracle's
    * double division is cast back loss-free). */
  val retention: GraftQuery = checked("ns_events_retention",
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    cohorts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM ev GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_week),
    active AS (
      SELECT DISTINCT c.cohort_week,
             CAST(date_diff('day', c.cohort_week,
                    CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INTEGER) AS week_offset,
             e.user_id
      FROM ev e JOIN cohorts c USING (user_id)),
    agg AS (
      SELECT cohort_week, week_offset, COUNT(*) AS n_active
      FROM active GROUP BY cohort_week, week_offset)
    SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
           ROUND(CAST(a.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
    FROM agg a JOIN sizes s USING (cohort_week)
    ORDER BY cohort_week, week_offset""") { (spark, dir) =>
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val cohorts = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min("ts"))).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    val active = ev.join(cohorts, "user_id")
      .select(col("cohort_week"),
        (datediff(to_date(date_trunc("week", col("ts"))), col("cohort_week")) / 7)
          .cast("int").as("week_offset"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("n_active"))
    active.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        dround(col("n_active").cast("double") / col("cohort_size"), 4).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** ORDERED FUNNEL — how many users progressed view → click →
    * purchase in strict temporal order, each hop within a conversion
    * deadline ([[FunnelHours]] after the previous stage's first
    * qualifying event). The conversion surface every event pipeline
    * reports, and semantically stricter than the unordered "did all
    * three types occur" count.
    *
    * Scale design — ONE window chain, not three corpus joins: the
    * textbook formulation (per-stage MIN(ts) aggregates, each joined
    * back to events) re-shuffles the corpus per stage. Here the corpus
    * shuffles/sorts ONCE on (user_id, ts), then two running-min
    * conditional windows over the SAME spec — strictly-earlier rows
    * via a range frame ending at −1 µs, the [[attributionCore]] edge —
    * mark qualifying clicks (some view strictly before) and qualifying
    * purchases (some qualifying click strictly before). Both Window
    * nodes share the one exchange+sort (identical spec ⇒ the second
    * reuses the child ordering), the per-user flag aggregate rides the
    * same partitioning, and the final 3-row reshape is `stack` over a
    * single-row global sum — no second corpus pass anywhere. A whale
    * user costs O(n log n): running frames advance monotone pointers,
    * no per-key pair product.
    *
    * Determinism: micros-exact strict comparisons on both engines
    * (`Tables.events` truncates ns → µs; the oracle CASTs), integer
    * flag sums — no floats anywhere. The oracle states the same
    * semantics in its natural SQL form (stage-wise MIN-and-join CTEs);
    * exact user counts make the two formulations bit-comparable. */
  /** Conversion deadline for each funnel hop, interpolated into BOTH
    * the DataFrame arithmetic and the oracle SQL (the shared-constant
    * contract from ADVICE r4's semDedup tau finding). 24 h splits the
    * synthetic corpus into a real funnel (150 → 60 → 25 users at
    * sf0.01); unbounded hops all converge to the same count. */
  private val FunnelHours = 24L
  private[graft] val FunnelUs = FunnelHours * 3600L * 1000000L

  val funnelSteps: GraftQuery = checked("ns_events_funnel_steps",
    s"""WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    v AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL $FunnelHours HOUR GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL $FunnelHours HOUR GROUP BY e.user_id)
    SELECT stage_ord, stage, n_users FROM (
      SELECT 1 AS stage_ord, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      UNION ALL
      SELECT 2, 'click_after_view', (SELECT COUNT(*) FROM c)
      UNION ALL
      SELECT 3, 'purchase_after_click', (SELECT COUNT(*) FROM p))
    ORDER BY stage_ord""") { (spark, dir) =>
    funnelStepsCore(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us")))
  }

  /** The funnel window chain over `(user_id, event_type, ts_us)`.
    * Scaling and whale-user skew numbers: BASELINE.md "Round 4",
    * round-5 weak-scaling + skew tables. */
  private[graft] def funnelStepsCore(ev0: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1L)
    // m_view for a row at ts equals the user's FIRST view timestamp
    // whenever any view precedes ts — exactly the oracle's t1 (and
    // likewise m_qclick = t2), so the deadline checks below compare
    // the same values the CTE formulation does
    val ev = ev0
      .withColumn("m_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("qual_click_ts",
        when(col("event_type") === "click" && col("m_view").isNotNull &&
          col("ts_us") <= col("m_view") + FunnelUs, col("ts_us")))
      .withColumn("m_qclick", min(col("qual_click_ts")).over(w))
    val perUser = ev.groupBy("user_id").agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
      max(when(col("qual_click_ts").isNotNull, 1).otherwise(0)).as("s2"),
      max(when(col("event_type") === "purchase" && col("m_qclick").isNotNull &&
        col("ts_us") <= col("m_qclick") + FunnelUs, 1)
        .otherwise(0)).as("s3"))
    perUser
      .agg(sum("s1").as("n1"), sum("s2").as("n2"), sum("s3").as("n3"))
      .select(expr("stack(3, 1, 'view', n1, 2, 'click_after_view', n2, " +
        "3, 'purchase_after_click', n3) as (stage_ord, stage, n_users)"))
      .orderBy("stage_ord")
  }

  /** MARKOV TRANSITION MATRIX over the per-user event stream: for every
    * ordered pair of consecutive events by the same user, count the
    * (src_type → dst_type) transition and derive the row-stochastic
    * probability — the first-order behavioural model event pipelines
    * feed into next-action prediction and bot detection.
    *
    * Scale shape: ONE corpus shuffle (the per-user `lag` window on
    * (user_id, ts, event_id)), then a groupBy whose key space is
    * |types|² — corpus-independent — so the count aggregate
    * partial-combines map-side down to at most |types|² rows per task
    * before the (tiny) exchange. The row-normalising total is a second
    * window over the ALREADY-AGGREGATED |types|²-row frame, so its cost
    * never grows with the corpus; at 100 TB nothing after the first
    * window touches more than |types|² rows. Determinism: the lag order
    * ties on event_id (same composite order both engines), counts are
    * exact integers, and p divides the same two BIGINTs on both sides
    * before the shared 4-digit round. `row_total` is CAST back to
    * BIGINT in the oracle — DuckDB's bare SUM(BIGINT) is HUGEINT,
    * which pandas-bridged comparators fold to float64 (see
    * [[saltedAgg]]'s oracle-type contract; r5 driver-red row). */
  val transitions: GraftQuery = checked("ns_events_transitions",
    """WITH ev AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM ev),
    cnt AS (
      SELECT src, dst, COUNT(*) AS n FROM pairs WHERE src IS NOT NULL GROUP BY src, dst),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_total FROM cnt GROUP BY src)
    SELECT c.src, c.dst, c.n, t.row_total,
           ROUND(CAST(c.n AS DOUBLE) / t.row_total, 4) AS p
    FROM cnt c JOIN tot t USING (src)
    ORDER BY src, dst""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cnt = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("src", lag("event_type", 1).over(wLag))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy("src") // |types|²-row frame: post-aggregation
    cnt.withColumn("row_total", sum("n").over(wTot))
      .select(col("src"), col("dst"), col("n"), col("row_total"),
        dround(col("n").cast("double") / col("row_total"), 4).as("p"))
      .orderBy("src", "dst")
  }

  /** SCD TYPE-2 COMPRESSION of the per-user event-type timeline:
    * collapse consecutive same-type events into validity intervals
    * `[valid_from, valid_to)` with a current-row marker — the
    * slowly-changing-dimension assembly every warehouse load performs
    * on a change stream (here: event_type as the tracked state).
    *
    * Scale shape: the classic gaps-and-islands two-window chain —
    * change detection (`lag`) and run numbering (running SUM) share ONE
    * window spec, so the corpus shuffles and sorts exactly once on
    * (user_id, ts, event_id); the per-run groupBy and the `lead` that
    * closes each interval both ride the same user_id hash partitioning
    * (the groupBy key prefix and the second window's partition key both
    * match the first exchange). A whale user is O(n log n) — windows
    * advance monotone pointers, no self-join pair product (contrast:
    * the textbook SCD2 MERGE joins the change stream against the
    * dimension per batch). Determinism: run_id is a running sum of
    * integer change flags over an event_id-tied total order — both
    * engines compute identical run numbers — and the `lead` orders by
    * that run_id, so zero-duration runs (timestamp ties across a state
    * change) cannot swap. interval_seq makes the sort key unique. */
  val scd2: GraftQuery = checked("ns_events_scd2",
    """WITH ev AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    marked AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM ev),
    runs AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked),
    intervals AS (
      SELECT user_id, run_id, event_type AS state,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type)
    SELECT user_id, CAST(run_id AS INTEGER) AS interval_seq, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current,
           n_events
    FROM intervals
    ORDER BY user_id, interval_seq""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intervals = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("chg",
        when(col("event_type") <=> lag("event_type", 1).over(wOrd), 0).otherwise(1))
      .withColumn("run_id", sum("chg").over(wRun))
      .groupBy(col("user_id"), col("run_id"), col("event_type").as("state"))
      .agg(min("ts").as("valid_from"), count(lit(1)).as("n_events"))
    val wLead = Window.partitionBy("user_id").orderBy("run_id")
    intervals
      .withColumn("valid_to", lead("valid_from", 1).over(wLead))
      .select(col("user_id"), col("run_id").cast("int").as("interval_seq"),
        col("state"), col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_events"))
      .orderBy("user_id", "interval_seq")
  }

  /** Daily event-type PIVOT — the wide activity matrix (one row per
    * day, one column per event type) that dashboards and downstream
    * feature joins consume. Spark's `pivot` with EXPLICIT values: the
    * two-phase auto-pivot (a distinct scan to discover values, then
    * the pivot pass) reads the corpus twice and bakes a runtime value
    * set into the schema — a non-deterministic contract at 100 TB;
    * the explicit list keeps one corpus pass and a stable schema, and
    * partial-aggregates map-side down to |days| rows per task before
    * the (tiny) exchange. The column set is the pipeline's event
    * vocabulary ([[PivotTypes]]), interpolated into both sides.
    * Integer counts only — bit-comparable. */
  private[graft] val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  val pivot: GraftQuery = checked("ns_events_pivot",
    s"""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           ${PivotTypes.map(t => s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS n_$t")
             .mkString(",\n           ")},
           COUNT(*) AS n_total
    FROM events
    GROUP BY day
    ORDER BY day""") { (spark, dir) =>
    val perType = PivotTypes.map(t =>
      count(when(col("event_type") === t, 1)).as(s"n_$t"))
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(perType.head, perType.tail :+ count(lit(1)).as("n_total"): _*)
      .orderBy("day")
  }

  /** TRAILING MOVING AVERAGE of daily purchase revenue with
    * week-over-week delta — the smoothing/trend surface of every
    * metrics pipeline. Scale shape: the corpus collapses FIRST to one
    * row per (type-filtered) day — a map-side-combined aggregate whose
    * key space is the calendar — and the 7-day RANGE frame plus the
    * 7-day lag run over that days-sized frame, so the window cost is
    * corpus-independent (same post-aggregation argument as
    * [[transitions]]' row totals). Determinism: revenue sums are
    * DOUBLEs whose addition order varies, so daily sums round to 4
    * digits BEFORE the window math on BOTH engines (the established
    * float contract), making the moving average an exact function of
    * already-deterministic inputs; the final round matches too. */
  /** r10 review, two fixes in lockstep with the oracle: (1) daily
    * revenue sums CENTS (exact BIGINT, the [[saltedAgg]] convention) —
    * ROUND(SUM(double)) was accumulation-order-dependent, and the ma7
    * window AVG on top of it added a segment-tree-vs-sliding
    * association mismatch between engines; every ratio is now ONE
    * deterministic division of exact integers. (2) `wow_delta`
    * compares against the SAME WEEKDAY one calendar week back (a
    * day−7 self-join) — `lag(revenue, 7)` was ROWS-based, so any
    * zero-purchase day silently shifted the comparison to the 8th
    * calendar day while the metric kept its week-over-week name. */
  val movingAvg: GraftQuery = checked("ns_events_moving_avg",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY day),
    j AS (
      SELECT d.day, d.cents, p.cents AS prev_cents
      FROM daily d LEFT JOIN daily p ON p.day = d.day - 7)
    SELECT day, ROUND(CAST(cents AS DOUBLE) / 100.0, 4) AS revenue,
           ROUND(CAST(SUM(cents) OVER (ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(COUNT(*) OVER (ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0, 4) AS ma7,
           ROUND(CAST(cents - prev_cents AS DOUBLE) / 100.0, 4) AS wow_delta
    FROM j
    ORDER BY day""") { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("day_n", datediff(col("day"), lit("1970-01-01")))
    val prev = daily.select((col("day_n") + 7).as("day_n"), col("cents").as("prev_cents"))
    // RANGE -6..0 over the MODEL-SIZED day grid, reformulated as an
    // offset-explode join instead of an unpartitioned window (r11
    // verdict #8: the no-partition WindowExec WARN cried wolf on every
    // bench run, and a literal partition key gets constant-folded back
    // to an empty spec). Each day's cents contribute to target days
    // d..d+6; grouping on the target day and inner-joining back to the
    // grid reproduces the window's existing-rows-only sum/count with
    // the SAME exact integers, so the rounded ma7 is unchanged.
    val ma = daily
      .select(col("cents").as("c"),
        explode(sequence(col("day_n"), col("day_n") + 6)).as("day_n"))
      .groupBy("day_n")
      .agg(sum("c").as("ma_sum"), count(lit(1)).as("ma_cnt"))
    daily.join(prev, Seq("day_n"), "left")
      .join(ma, Seq("day_n"))
      .select(col("day"),
        dround(col("cents").cast("double") / 100.0, 4).as("revenue"),
        dround(col("ma_sum").cast("double")
          / col("ma_cnt").cast("double") / 100.0, 4).as("ma7"),
        dround((col("cents") - col("prev_cents")).cast("double") / 100.0, 4).as("wow_delta"))
      .orderBy("day")
  }

  /** SKEW-SALTED AGGREGATION, registered and oracle-gated: the
    * [[ScaleOps.saltedSum]] two-phase plan (phase 1 groups on
    * (key, salt) to spread a whale key over 16 reducers, phase 2
    * merges partials) run over per-type event value totals, checked
    * against the ORDINARY one-phase GROUP BY in DuckDB — the gate
    * proves the salted decomposition is RESULT-TRANSPARENT, not just
    * plan-pinned (ScaleOpsSpec covers the shape; this covers the
    * algebra).
    *
    * Determinism: values quantized to cents (FLOOR(v·100 + 0.5) —
    * Spark's floor yields LONG) BEFORE summing, so both the two
    * Spark phases and DuckDB's single phase add exact integers in
    * any order. A double sum would round differently under the
    * salted regrouping and the oracle's order — the exact trap the
    * [[EventStats]] cents convention exists for.
    *
    * Oracle-type contract (root cause of the r5 driver-red row): DuckDB
    * `SUM(BIGINT)` returns HUGEINT (int128), which a pandas-bridged
    * comparator folds to float64 (`4832.0`) while Spark's parquet
    * BIGINT stays int64 (`4832`) — a hash mismatch invisible to a
    * fetchall()-style compare. Every integer SUM that reaches an oracle
    * OUTPUT column must be `CAST(... AS BIGINT)`; tools/selfcheck.py
    * now enforces this by comparing pandas dtypes strictly. */
  val saltedAgg: GraftQuery = checked("ns_events_salted_sum",
    """SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type""") { (spark, dir) =>
    val cents = Tables.events(spark, dir)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).as("cents"))
    ScaleOps.saltedSum(cents, "event_type", "cents", 16)
      .select(col("event_type"), col("sum_cents"), col("n"))
      .orderBy("event_type")
  }

  /** Z-ORDER layout key over (user_id, event-day), oracle-gated: the
    * clustering key a 100 TB event store would sort its files by so
    * BOTH per-user scans and time-range scans prune on parquet
    * zone maps ([[ScaleOps.zorderKey]]; compose with
    * [[ScaleOps.writeCurated]]'s in-file sort for the full layout).
    * The gate proves the bit interleave identical on both engines —
    * the key must be engine-independent or a DuckDB-written layout
    * and a Spark reader would disagree about locality. Emits the
    * first rows in z-order (key + its two reconstructed coordinates,
    * so the oracle also re-derives DE-interleaving). */
  val zorder: GraftQuery = {
    // 20 bits per dimension: user_id < 2^20 (~1.05M) and day_num <
    // 2^20. The driver fixtures top out near 10^5 users at sf0.1 (and
    // ~10^6 at sf=1), so the headroom is ~10×; BOTH engines mask
    // identically so the oracle stays green past the bound, but ids
    // ≥ 2^20 would silently collide on the zkey prefix and quietly
    // weaken the data-skipping layout this query exists to
    // demonstrate. If a future SF crosses 1M users, raise `bits`
    // (zkey is one BIGINT: 2×31 bits fit; the oracle's interleave
    // terms are generated from the same constant, so the two sides
    // cannot drift).
    val bits = 20
    val interleave = (1 to 2).map { which => // 1 = a (even bits), 2 = b (odd)
      (0 until bits).map { i =>
        if (which == 1) s"(((user_id >> $i) & 1) << ${2 * i})"
        else s"(((d >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" | ")
    }
    checked("ns_events_zorder",
      s"""WITH keyed AS (
      SELECT event_id, user_id,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS d
      FROM events),
    z AS (
      SELECT event_id, user_id, d,
             (${interleave(0)}) | (${interleave(1)}) AS zkey
      FROM keyed)
    SELECT event_id, user_id, d AS day_num, zkey
    FROM z ORDER BY zkey, event_id LIMIT 100""") { (spark, dir) =>
      val keyed = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          floor(unix_micros(col("ts")).cast("double") / 86400000000.0).cast("long").as("d"))
      keyed
        .withColumn("zkey", ScaleOps.zorderKey(col("user_id"), col("d"), bits))
        .select(col("event_id"), col("user_id"), col("d").as("day_num"), col("zkey"))
        .orderBy("zkey", "event_id").limit(100)
    }
  }

  val all: Seq[GraftQuery] = Seq(attribution, anomalies, intervalJoin, retention,
    funnelSteps, transitions, scd2, pivot, movingAvg, saltedAgg, zorder)
}
