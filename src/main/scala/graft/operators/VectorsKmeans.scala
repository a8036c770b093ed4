package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.dround
import graft.sources.Tables

/** Distributed k-means (Lloyd) over the embeddings table — the
  * "production would run k-means refinement" step [[VectorsIvf]]'s
  * coarse quantizer points at: the trained centroids drop into the same
  * cell-assignment/probe plan, only the literals change.
  *
  * Scale design — each Lloyd iteration is exactly two stages:
  *  1. ASSIGN: per-row argmin distance over K centroid literals,
  *     rewritten as argmax (v·c − |c|²/2) so it reuses the dot kernel;
  *     centroids ride the plan as literals → a pure map stage fused
  *     into the scan, zero shuffle.
  *  2. UPDATE: per-(cluster, dimension) sums via posexplode + partial-
  *     aggregated groupBy — only K×dim tiny sums cross the wire, and
  *     only K×dim longs land on the driver (bounded by model size, like
  *     the IVF centroid sample — never corpus rows).
  *
  * Determinism (the oracle contract): the update sums
  * floor(x·10⁶ + 0.5) as BIGINT — exact integer arithmetic, invariant
  * to partitioning and summation order — then divides back to double.
  * Floating sums would drift between engines by summation order;
  * integer sums cannot, so the per-iteration centroids (and therefore
  * every assignment) are bit-identical to the DuckDB oracle, which
  * replays the same [[Iters]] iterations in SQL.
  */
object VectorsKmeans {

  val K = 8
  val Iters = 2
  val Dim = 64
  private val Scale = 1000000.0

  /** Double dot of a float vector column against a double-literal
    * centroid — the native codegen'd kernel
    * ([[graft.functions.FloatDoubleVecDot]]); same sequential
    * left-to-right arithmetic as the oracle's
    * `list_sum(list_transform(list_zip(...)))` (equivalence vs the
    * interpreted HOF form pinned in ScaleOpsSpec). */
  private def dotLit(v: Column, c: Seq[Double]): Column =
    graft.functions.VectorExpressions.vecDotFD(v, array(c.map(lit): _*))

  /** Interpreted HOF reference of [[dotLit]] (equivalence spec). */
  private[graft] def dotLitRef(v: Column, c: Seq[Double]): Column =
    aggregate(zip_with(v, array(c.map(lit): _*), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, p) => acc + p)

  /** Nearest-centroid id: argmax (v·c − |c|²/2) with the
    * `greatest`-over-structs tie-break (score, then cid — mirrored in
    * SQL as ORDER BY score DESC, cid DESC). `greatest`, not
    * `array_max(array(...))`: with a lambda (the HOF dot) inside, the
    * array element struct resolves its field names AFTER the lambda
    * rule runs, so `getField` on the array_max result sees placeholder
    * names (col1/col2) and analysis fails; `greatest` resolves the
    * struct children directly (same idiom as TextOps.langId). */
  private[graft] def assignCol(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    greatest(cents.map { case (cid, c) =>
      struct((dotLit(v, c) - lit(c.map(x => x * x).sum / 2)).as("score"),
        lit(cid).as("cid"))
    }: _*).getField("cid")

  /** Deterministic seed: the first K corpus vectors (same rule as the
    * IVF centroid sample). */
  private[graft] def initialCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < K)
      .select(col("vec_id").cast("int"), col("embedding"))
      .as[(Int, Array[Float])].collect()
      .map { case (cid, v) => cid -> v.toSeq.map(_.toDouble) }
      .sortBy(_._1).toSeq
  }

  /** One Lloyd update: assign under `cents`, re-center each non-empty
    * cluster on the quantized-exact mean of its members. */
  private[graft] def refined(spark: SparkSession, dir: String,
                             cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    // two steps, not one select: a generator (posexplode) alongside the
    // HOF-bearing struct getField trips the same analyzer ordering
    // quirk assignCol's doc describes — resolve the assignment first
    quantizedMeans(Tables.embeddings(spark, dir)
      .withColumn("cluster", assignCol(col("embedding"), cents)), "cluster")
  }

  /** Quantized-exact per-key embedding means — the ONE implementation
    * of the posexplode → floor(x·Scale+.5) BIGINT sum → collect →
    * sort-by-pos reassembly pipeline (r10 review #6: [[refined]] and
    * [[labelOutliers]] had token-for-token copies keyed by cluster vs
    * label; a quantization-discipline fix to one would silently miss
    * the other). Collect is keys×Dim rows — model-sized, never
    * corpus-sized. */
  private def quantizedMeans(df: DataFrame, keyCol: String): Seq[(Int, Seq[Double])] = {
    val sums = df
      .select(col(keyCol), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(keyCol, "pos")
      .agg(sum(floor(col("x").cast("double") * Scale + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .collect()
    sums.groupBy(_.getInt(0)).view.mapValues { rows =>
      rows.sortBy(_.getInt(1)).map(r => r.getLong(2) / (Scale * r.getLong(3))).toSeq
    }.toSeq.sortBy(_._1).map { case (cid, c) => (cid, c) }
  }

  /** Trained-model memo: `ns_vec_kmeans` and `ns_vec_topk_ivf_kmeans`
    * share one training run per (session, dir). Weak session keys so
    * the memo never pins a retired SparkSession (the round-3 advice on
    * cache memos); values are K×Dim doubles — model-sized. */
  private val trained =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Seq[(Int, Seq[Double])]]]()

  /** `Iters` Lloyd rounds from the deterministic seed (memoized). */
  def train(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] = {
    val perSession = trained.synchronized {
      var m = trained.get(spark)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; trained.put(spark, m) }
      m
    }
    perSession.getOrElseUpdate(dir,
      (0 until Iters).foldLeft(initialCentroids(spark, dir))((c, _) => refined(spark, dir, c)))
  }

  /** Mean squared distance of every vector to its assigned centroid —
    * the k-means objective (used by the monotone-descent spec; computed
    * with the same quantized-exact summation trick). */
  private[graft] def objective(spark: SparkSession, dir: String,
                               cents: Seq[(Int, Seq[Double])]): Double = {
    val sqDist = cents.map { case (cid, c) =>
      struct((lit(c.map(x => x * x).sum) - lit(2.0) * dotLit(col("embedding"), c)).as("d2adj"),
        lit(cid).as("cid"))
    }
    // ||v−c||² = |v|² + |c|² − 2v·c; |v|² is assignment-invariant, so
    // argmin over (|c|² − 2v·c) yields the same OBJECTIVE VALUE as
    // assignCol's argmax. NOTE the tie-breaks differ on exactly-equal
    // scores (least → MIN cid, assignCol/greatest → MAX cid): tied
    // centroids have identical d2adj so the value is unaffected, but
    // do NOT read the cid field off this struct for per-cluster
    // objectives — it can disagree with the oracle's cid DESC rule
    // (r10 review #7)
    val row = Tables.embeddings(spark, dir)
      .select((least(sqDist: _*).getField("d2adj") +
        aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)).as("d2"))
      .agg(avg("d2")).head()
    row.getDouble(0)
  }

  /** Per-cluster summary under the trained centroids. */
  def kmeansSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = train(spark, dir)
    val counts = Tables.embeddings(spark, dir)
      .select(assignCol(col("embedding"), cents).as("cluster_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val norms = cents.toDF("cluster_id", "cemb")
      .select(col("cluster_id"),
        dround(sqrt(aggregate(col("cemb"), lit(0.0), (a, x) => a + x * x)), 4)
          .as("centroid_norm"))
    counts.join(norms, "cluster_id").orderBy("cluster_id")
  }

  /** The oracle replays the identical pipeline in SQL: same seed, same
    * argmax tie-break (ROW_NUMBER score DESC, cid DESC), same
    * quantized-integer centroid update, same two iterations. */
  private[graft] def iterSql(i: Int): String =
    s"""score$i AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cemb),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             - list_sum(list_transform(c.cemb, x -> x * x)) / 2 AS score
      FROM embeddings e CROSS JOIN cents$i c),
    assign$i AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
        FROM score$i) WHERE rn = 1),
    cents${i + 1} AS (
      SELECT cluster AS cid,
             list(CAST(sq AS DOUBLE) / (1000000.0 * n) ORDER BY pos) AS cemb
      FROM (
        SELECT a.cluster, t.i AS pos,
               SUM(CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM assign$i a JOIN embeddings e USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) t(i)
        GROUP BY a.cluster, t.i)
      GROUP BY cluster)"""

  val kmeans: GraftQuery = GraftQuery.checked("ns_vec_kmeans",
    s"""WITH cents0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
      FROM embeddings WHERE vec_id < $K),
    ${iterSql(0)},
    ${iterSql(1)},
    score2 AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cemb),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             - list_sum(list_transform(c.cemb, x -> x * x)) / 2 AS score
      FROM embeddings e CROSS JOIN cents2 c),
    assign2 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
        FROM score2) WHERE rn = 1),
    counts AS (
      SELECT cluster, COUNT(*) AS n_members FROM assign2 GROUP BY cluster)
    SELECT co.cluster AS cluster_id, co.n_members,
           ROUND(sqrt(list_sum(list_transform(c.cemb, x -> x * x))), 4) AS centroid_norm
    FROM counts co JOIN cents2 c ON c.cid = co.cluster
    ORDER BY cluster_id""")((s, d) => kmeansSummary(s, d))

  // --- IVF probe over TRAINED centroids ---------------------------------

  /** IVF ANN with the k-means-refined coarse quantizer — the production
    * combination [[VectorsIvf]]'s doc promises ("production would run
    * k-means refinement"). Same probe plan, better cells.
    *
    * Corpus cell assignment is the zero-shuffle [[assignCol]] codegen
    * map fused into the scan — NOT a crossJoin + per-vec_id window,
    * which would hash-exchange and sort K× the corpus to recompute what
    * the argmax column already yields (round-4 verdict #1). assignCol's
    * `greatest`-over-structs tie-break (max score, then max cid) is
    * exactly the oracle's ROW_NUMBER (score DESC, cid DESC) rn=1 row.
    * Only the nQueries probe slice — which genuinely needs the top-
    * nProbe cells, not just the argmax — ranks through a window, over
    * K×nQueries rows. Because trained centroids are MEANS (not
    * unit-norm like the sampled seed vectors), nearest-cell must be
    * argmax (v·c − |c|²/2), not plain argmax dot. */
  def ivfKmeansTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5,
                    nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val cents = train(spark, dir)
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        assignCol(col("embedding"), cents).as("cell"))
    val centsDf = broadcast(cents.toDF("cid", "cemb")
      .select(col("cid"), col("cemb"),
        (aggregate(col("cemb"), lit(0.0), (a, x) => a + x * x) / 2).as("half_sq")))
    val qEmb = Tables.embeddings(spark, dir).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = qEmb.crossJoin(centsDf)
      .select(col("query_id"), col("q_emb"), col("cid"),
        (graft.functions.VectorExpressions.vecDotFD(col("q_emb"), col("cemb")) -
          col("half_sq")).as("score"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("cid").desc)
    val probes = scored.withColumn("rn", row_number().over(wCell))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cid").as("cell"))
    val pairs = corpus.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dround(Vectors.dot(col("q_emb"), col("embedding")), 4).as("sim_r"))
    Vectors.rankTail(pairs, k)
  }

  val ivfKmeans: GraftQuery = GraftQuery.checked("ns_vec_topk_ivf_kmeans",
    s"""WITH cents0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
      FROM embeddings WHERE vec_id < $K),
    ${iterSql(0)},
    ${iterSql(1)},
    score2 AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cemb),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             - list_sum(list_transform(c.cemb, x -> x * x)) / 2 AS score,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(list_zip(e.embedding, c.cemb),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               - list_sum(list_transform(c.cemb, x -> x * x)) / 2 DESC, c.cid DESC) AS rn
      FROM embeddings e CROSS JOIN cents2 c),
    cells AS (
      SELECT vec_id, cid AS cell FROM score2 WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM score2
      WHERE vec_id < 5 AND rn <= 4),
    pairs AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(list_zip(q.embedding, e.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS sim_r
      FROM probes p
      JOIN cells ce ON ce.cell = p.cell
      JOIN embeddings e ON e.vec_id = ce.vec_id AND e.vec_id <> p.query_id
      JOIN embeddings q ON q.vec_id = p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim_r,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rn
      FROM pairs)
    SELECT query_id, neighbor_id, sim_r FROM ranked WHERE rn <= 5
    ORDER BY query_id, sim_r DESC, neighbor_id""")((s, d) => ivfKmeansTopK(s, d))

  /** Per-label embedding OUTLIERS — the corpus-QC pass that surfaces
    * mislabeled / anomalous vectors: distance of every embedding to its
    * own label's centroid, top-N furthest. Centroids use the same
    * quantized-exact BIGINT mean as the k-means update (order-invariant
    * → oracle-identical); the scoring pass is one broadcast join of the
    * label-count-sized centroid frame plus codegen'd per-row algebra
    * (‖v‖² − 2·v·c + ‖c‖², clamped at 0 against fp negatives). */
  def labelOutliers(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Int, Seq[Double])] =
      quantizedMeans(Tables.embeddings(spark, dir), "label")
    val centsDf = broadcast(cents.toDF("label", "cemb")
      .select(col("label"), col("cemb"),
        aggregate(col("cemb"), lit(0.0), (a, x) => a + x * x).as("c2")))
    val vNorm2 = aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x)
    Tables.embeddings(spark, dir)
      .join(centsDf, "label")
      .select(col("vec_id"), col("label"),
        dround(sqrt(greatest(
          vNorm2 - lit(2.0) * graft.functions.VectorExpressions.vecDotFD(col("embedding"), col("cemb")) + col("c2"),
          lit(0.0))), 4).as("dist"))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(topN)
  }

  val outliers: GraftQuery = GraftQuery.checked("ns_vec_label_outliers",
    s"""WITH sums AS (
      SELECT label, t.i AS pos,
             SUM(CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM embeddings CROSS JOIN range(1, ${Dim + 1}) t(i)
      GROUP BY label, t.i),
    cents AS (
      SELECT label, list(CAST(sq AS DOUBLE) / (1000000.0 * n) ORDER BY pos) AS cemb
      FROM sums GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(sqrt(GREATEST(
               list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               - 2.0 * list_sum(list_transform(list_zip(e.embedding, c.cemb),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               + list_sum(list_transform(c.cemb, x -> x * x)), 0.0)), 4) AS dist
      FROM embeddings e JOIN cents c USING (label))
    SELECT vec_id, label, dist FROM scored
    ORDER BY dist DESC, vec_id LIMIT 20""")((s, d) => labelOutliers(s, d))

  /** SemDeDup — SEMANTIC deduplication (Abbas et al. 2023): embeddings
    * are k-means-clustered, then near-duplicates are detected by
    * pairwise cosine WITHIN each cluster only; a vector is dropped when
    * a lower-id cluster-mate sits above the threshold (keep-first, the
    * same survivor rule as `ns_dedup_survivors`). Output = the dropped
    * set with its canonical representative.
    *
    * Scale design — this is the whole point of SemDeDup: the quadratic
    * pair space shrinks from N² to Σ|cluster|², and clusters are
    * equi-join buckets, so the pair generation is ONE shuffle on
    * cluster id (no crossJoin). Two guardrails make that hold at
    * 100 TB: you raise K so E[|cluster|] stays bounded (pairs then grow
    * linearly with the corpus — BASELINE.md "Round 4"), and any
    * cluster that still exceeds [[MaxClusterRows]] is salt-split by
    * [[semDedupCore]] into bounded shard-pair join tasks — a LOSSLESS
    * skew decomposition (every within-cluster pair lands in exactly one
    * task; equivalence spec pins sharded ≡ unsharded), so one whale
    * cluster becomes S² executor-sized tasks instead of a single
    * straggler holding |cluster|² pairs. Threshold [[Tau]] sits at the
    * ~99.9th percentile of the pair-cosine distribution of this
    * synthetic corpus (uniform-ish vectors), so the output is
    * non-vacuous at every SF.
    *
    * The oracle replays training (same CTEs as `ns_vec_kmeans`), the
    * assignment, and the within-cluster pair scan in SQL — exact
    * hash-match, because assignment is deterministic (quantized-exact
    * centroids) and similarity is ROUNDed before thresholding. */
  /** Shared similarity threshold — interpolated into BOTH the DataFrame
    * filter default and the oracle SQL, so the two can never drift
    * (round-4 advice: a caller-supplied tau used to silently break the
    * hard-coded oracle constant). */
  private[graft] val Tau = 0.35

  /** Row cap above which a cluster is salt-split into shard-pair
    * tasks. 64 K rows bound a task at ≈ 2·64 K joined rows and ≤ 64 K²
    * pair evaluations — executor-sized. Test-scale clusters sit far
    * below it, so the registered query's plan is the single-task one. */
  val MaxClusterRows = 65536L

  def semDedup(spark: SparkSession, dir: String, tau: Double = Tau): DataFrame = {
    val cents = train(spark, dir)
    val assigned = Tables.embeddings(spark, dir)
      .withColumn("cluster_id", assignCol(col("embedding"), cents))
      .select("cluster_id", "vec_id", "embedding")
    semDedupCore(spark, assigned, tau, MaxClusterRows)
  }

  /** Within-cluster pair scan over an injected
    * `(cluster_id, vec_id, embedding)` frame, with oversized clusters
    * salt-split into bounded tasks. Scaling and whale-cluster skew
    * numbers: BASELINE.md "Round 4", round-5 weak-scaling + skew tables.
    *
    * Decomposition (lossless): a cluster with n > maxClusterRows rows
    * gets S = ⌈n / maxClusterRows⌉ shards; each row salts to shard
    * s = hash(vec_id) mod S, enters the A side of tasks (s, j ≥ s) and
    * the B side of tasks (i ≤ s, s), and the join key becomes
    * (cluster, task). A pair with shards (sx ≤ sy) meets in exactly
    * task (sx, sy); same-shard tasks see both orientations, so those
    * keep only keep_id < vec_id while cross-shard tasks normalise via
    * least/greatest. Pair COUNT is unchanged — the split removes the
    * single-reducer whale, not work (total work shrinks by raising K).
    * Shard counts come from one model-sized (K-row) aggregate. */
  private[graft] def semDedupCore(spark: SparkSession, assigned: DataFrame,
                                  tau: Double, maxClusterRows: Long): DataFrame = {
    import spark.implicits._
    val nShards: Seq[(Int, Int)] = assigned
      .groupBy("cluster_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) ->
        (((r.getLong(1) + maxClusterRows - 1) / maxClusterRows) max 1L).toInt)
      .toSeq
    val sharded = assigned
      .join(broadcast(nShards.toDF("cluster_id", "n_shards")), "cluster_id")
      .withColumn("shard", pmod(xxhash64(col("vec_id")), col("n_shards")).cast("int"))
    val aSide = sharded
      .withColumn("task_j", explode(sequence(col("shard"), col("n_shards") - 1)))
      .select(col("cluster_id"), col("shard").as("task_i"), col("task_j"),
        col("vec_id").as("keep_id"), col("embedding").as("k_emb"))
    val bSide = sharded
      .withColumn("task_i", explode(sequence(lit(0), col("shard"))))
      .select(col("cluster_id"), col("task_i"), col("shard").as("task_j"),
        col("vec_id"), col("embedding"))
    aSide.join(bSide, Seq("cluster_id", "task_i", "task_j"))
      .where(col("task_i") < col("task_j") || col("keep_id") < col("vec_id"))
      .select(col("cluster_id"),
        greatest(col("keep_id"), col("vec_id")).as("vec_id"),
        least(col("keep_id"), col("vec_id")).as("keep_id"),
        dround(Vectors.dot(col("k_emb"), col("embedding")), 4).as("sim_r"))
      .where(col("sim_r") >= tau)
      .groupBy("vec_id", "cluster_id")
      .agg(min("keep_id").as("dup_of"), count(lit(1)).as("n_dups"),
        max("sim_r").as("max_sim"))
      .orderBy("vec_id")
  }

  /** The training + assignment + within-cluster-pair CTE body (up to
    * `pairs`) — shared verbatim by this oracle and the
    * [[VectorsCuration]] capstone's (which appends the dropped-set
    * derivation and the coreset chain over the survivors). */
  private[graft] def semdedupSqlBody: String =
    s"""cents0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
      FROM embeddings WHERE vec_id < $K),
    ${iterSql(0)},
    ${iterSql(1)},
    score2 AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cemb),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             - list_sum(list_transform(c.cemb, x -> x * x)) / 2 AS score
      FROM embeddings e CROSS JOIN cents2 c),
    assign2 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
        FROM score2) WHERE rn = 1),
    pairs AS (
      SELECT bb.vec_id, aa.cluster, aa.vec_id AS keep_id,
             ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS sim_r
      FROM assign2 aa JOIN assign2 bb
        ON aa.cluster = bb.cluster AND aa.vec_id < bb.vec_id
      JOIN embeddings a ON a.vec_id = aa.vec_id
      JOIN embeddings b ON b.vec_id = bb.vec_id)"""

  val semdedup: GraftQuery = GraftQuery.checked("ns_vec_semdedup",
    s"""WITH $semdedupSqlBody
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster_id,
           MIN(keep_id) AS dup_of, COUNT(*) AS n_dups, MAX(sim_r) AS max_sim
    FROM pairs WHERE sim_r >= $Tau
    GROUP BY vec_id, cluster
    ORDER BY vec_id""")((s, d) => semDedup(s, d))

  val all: Seq[GraftQuery] = Seq(kmeans, ivfKmeans, outliers, semdedup)
}
