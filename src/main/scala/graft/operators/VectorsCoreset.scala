package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** Greedy k-center coreset (farthest-point sampling) over the
  * embeddings table — diversity selection for training-data curation:
  * pick K representatives s.t. every vector is close to some
  * representative (the classic 2-approximation to the k-center
  * objective; the "diversity sampling" stage a curation pipeline runs
  * after dedup, complementing [[VectorsKmeans.semdedup]]'s
  * redundancy REMOVAL with coverage-preserving SELECTION).
  *
  * Scale design — the k-means contract applied to selection:
  *  - The selected set is MODEL-SIZED driver state (K vectors), carried
  *    into each pass as literals — like centroids/codebooks, never
  *    corpus rows.
  *  - Each round is ONE map stage over the corpus (min-distance to the
  *    current selected set via `least` over K quantized-integer
  *    distance expressions, fused into the scan) topped by a bounded
  *    TakeOrderedAndProject(1) — no shuffle wider than one row. K
  *    rounds total, the pagerank-style iteration×job-floor bill, with
  *    the quantized projection computed once and cached ([[OpMemo]]).
  *  - At 100 TB the same plan holds: the argmax is a per-partition
  *    top-1 then a 1-row-per-partition reduce.
  *
  * Determinism (the oracle contract): coordinates quantize to BIGINT at
  * 1e4 (the [[VectorsPca]] scale; |e|<1 ⇒ per-dim diff² < 4·10⁸,
  * ×64 dims < 2.6·10¹⁰ — no overflow), so every distance² is an exact
  * integer, invariant to partitioning and evaluation order; argmax
  * ties break on vec_id ASC. The DuckDB oracle replays the identical
  * greedy unrolled K−1 stages over the same integers.
  */
object VectorsCoreset {

  val K = 8
  private val Scale = 10000.0

  /** Quantized BIGINT coordinate array — computed once per (session,
    * dir) and cached; every greedy round re-reads this columnar frame. */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    OpMemo.cached(spark, dir, "coreset_quant") {
      Tables.embeddings(spark, dir).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * Scale + 0.5).cast("long")).as("qv"))
    }

  /** One greedy round as a 1-row frame: min distance² to the selected
    * set, argmax with vec_id tie-break. Exposed so PlanShapeSpec
    * can pin the shape — a map stage + bounded TakeOrderedAndProject,
    * no shuffle Exchange (per-partition top-1, 1-row driver merge).
    *
    * r11: the min-over-set is ONE codegen expression over ONE
    * `array<array<bigint>>` literal ([[graft.functions.MinLongSqDist]])
    * — the old `least(per-center interpreted zip_with folds)` inlined
    * every center's coordinates into the generated source, so each
    * greedy round paid a fresh janino compile on top of interpreted
    * HOF evaluation (the perceptron lesson); exclusion is an
    * array_contains against an array literal for the same reason. */
  private[graft] def roundFrame(q: DataFrame,
      selQ: Seq[Seq[Long]], exclude: Seq[Long]): DataFrame = {
    val selLit = typedLit(selQ.map(_.toSeq))
    q.where(!array_contains(lit(exclude.toArray), col("vec_id")))
      .select(col("vec_id"),
        graft.functions.VectorExpressions.minLongSqDist(col("qv"), selLit).as("mind"),
        col("qv"))
      .orderBy(desc("mind"), asc("vec_id")).limit(1)
  }

  /** The greedy selection: (rank, vec_id, dist_q2, qv) driver-side.
    * dist_q2 is the selected point's min distance² to the PRIOR
    * selected set (the covering-radius sequence; 0 for the seed). */
  private[graft] def select(spark: SparkSession, dir: String, k: Int = K): Seq[(Int, Long, Long, Seq[Long])] =
    selectFrom(quantized(spark, dir), k)

  /** Greedy FPS over any quantized `(vec_id, qv)` frame — shared with
    * the [[VectorsCuration]] capstone, which feeds it the SemDeDup
    * survivor set instead of the full corpus. */
  private[graft] def selectFrom(q: DataFrame, k: Int = K): Seq[(Int, Long, Long, Seq[Long])] = {
    // seed: max quantized norm², tie → min vec_id (deterministic, and
    // an extreme point — the conventional FPS start)
    val seedRow = q.select(col("vec_id"),
        aggregate(transform(col("qv"), x => x * x), lit(0L), (a, x) => a + x).as("n2"),
        col("qv"))
      .orderBy(desc("n2"), asc("vec_id")).limit(1).collect()(0)
    val seed = (1, seedRow.getLong(0), 0L, seedRow.getSeq[Long](2).toSeq)
    (2 to k).foldLeft(Vector(seed)) { (sel, rank) =>
      val row = roundFrame(q, sel.map(_._4), sel.map(_._2)).collect()(0)
      sel :+ ((rank, row.getLong(0), row.getLong(1), row.getSeq[Long](2).toSeq))
    }.map { case (r, id, d, qv) => (r, id, d, qv) }
  }

  /** PlanShapeSpec hook: the quantized corpus frame. */
  private[graft] def quantizedFrame(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)

  /** Registered query: the selection order with its exact-integer
    * covering-radius sequence. */
  def coresetDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    select(spark, dir)
      .map { case (r, id, d, _) => (r, id, d) }
      .toDF("sel_rank", "vec_id", "dist_q2")
      .orderBy("sel_rank")
  }

  /** One unrolled greedy stage — numbering contract: `m{t}` is every
    * vector's min distance² to the selected set {s0..s{t}}, and
    * `s{t+1}` is the farthest point under `m{t}`. */
  private def stageSql(t: Int): String = {
    val excl = (0 to t).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    s"""m$t AS MATERIALIZED (
      SELECT m.vec_id, m.qv,
             LEAST(m.mind, CAST(list_sum(list_transform(list_zip(m.qv, s.qv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)) AS mind
      FROM m${t - 1} m CROSS JOIN (SELECT q.qv FROM q JOIN s$t ON q.vec_id = s$t.vec_id) s),
    s${t + 1} AS (
      SELECT vec_id, mind FROM m$t
      WHERE vec_id NOT IN ($excl)
      ORDER BY mind DESC, vec_id LIMIT 1)"""
  }

  /** The unrolled greedy chain AFTER a `q AS (vec_id, qv)` CTE —
    * shared verbatim by this oracle and the [[VectorsCuration]]
    * capstone's (which swaps in a survivor-filtered `q`). */
  private[graft] def greedySqlTail(k: Int): String =
    s"""s0 AS (
      SELECT vec_id FROM (
        SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
        FROM q) ORDER BY n2 DESC, vec_id LIMIT 1),
    m0 AS MATERIALIZED (
      SELECT a.vec_id, a.qv,
             CAST(list_sum(list_transform(list_zip(a.qv, s.qv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS mind
      FROM q a CROSS JOIN (SELECT q.qv FROM q JOIN s0 ON q.vec_id = s0.vec_id) s),
    s1 AS (
      SELECT vec_id, mind FROM m0
      WHERE vec_id NOT IN (SELECT vec_id FROM s0)
      ORDER BY mind DESC, vec_id LIMIT 1),
    ${(1 to k - 2).map(stageSql).mkString(",\n    ")}
    SELECT * FROM (
      SELECT 1 AS sel_rank, vec_id, CAST(0 AS BIGINT) AS dist_q2 FROM s0
      ${(1 until k).map(t => s"UNION ALL SELECT ${t + 1} AS sel_rank, vec_id, mind AS dist_q2 FROM s$t").mkString("\n      ")}
    ) ORDER BY sel_rank"""

  val coreset: GraftQuery = GraftQuery.checked("ns_vec_coreset",
    s"""WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings),
    ${greedySqlTail(K)}""")((s, d) => coresetDf(s, d))

  val all: Seq[GraftQuery] = Seq(coreset)
}
