package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.GraftQuery.checked
import graft.functions.dround
import graft.sources.Tables

/** Embedding COVARIANCE / GRAM MATRIX — the first step of PCA
  * whitening and low-rank projection over an embedding corpus (the
  * dimensionality-reduction sibling of the random-projection ANN in
  * [[Vectors]]: RP uses a data-oblivious basis, PCA learns one).
  *
  * Scale design — a ZERO-JOIN outer-product aggregation: the textbook
  * formulation (explode to (vec_id, i, q) and self-join on vec_id)
  * shuffles the exploded corpus twice to reassemble pairs that were
  * adjacent in the source row all along. Here each row emits its own
  * upper-triangle outer product INLINE (sorted `transform`/`slice`
  * over the quantized array — pure codegen, d(d+1)/2 entries per row),
  * and the only exchange in the whole plan carries map-side partial
  * sums bounded by d(d+1)/2 keys per task — model-sized, corpus-
  * independent. At 100 TB this is a single embarrassingly-parallel
  * corpus pass with a d²-row shuffle; the per-dimension mean vector
  * rides the same pass shape (a d-key partial aggregate), broadcast
  * back for centering. No skew surface exists: every row costs exactly
  * d(d+1)/2 multiplications.
  *
  * Determinism contract (the k-means playbook, VectorsKmeans.scala:38):
  * floats are quantized to integers FIRST ([[VectorsPca.Scale]], round-
  * half-up floor on both engines), so Σq_iq_j and Σq_i are EXACT
  * BIGINTs — order-invariant under any partitioning — and the final
  * covariance double is the same closed formula (S_ij − S_iS_j/n)/(n−1)
  * over the same integers on both sides, rounded via the shared 4-digit
  * contract. The oracle's integer SUMs (`s`, `s_ij`) are CAST back to
  * BIGINT — DuckDB's bare SUM(BIGINT) is HUGEINT, which pandas-bridged
  * comparators fold to float64 while Spark's stays int64 (the r5
  * driver-red cause; see EventOps.saltedAgg's oracle-type contract). Bounds: |e| < 1 ⇒ q² < Scale² = 1e8, so the BIGINT sum
  * wraps only past ~9·10¹⁰ rows — past that, swap the sum to
  * DECIMAL(38,0)/HUGEINT exactly as `ns_events_anomaly` does for Σn².
  * The driver-side consumer ([[VectorsPca.topEigen]], used by the spec)
  * power-iterates the d×d result — model-sized math, not a data-plane
  * collect.
  */
object VectorsPca {

  /** Quantization scale for the exact-integer gram sums — coarser than
    * k-means' 1e6 ([[VectorsKmeans]]) because products square the
    * scale: 1e4 keeps q² ≤ 1e8 and the corpus sum inside both BIGINT
    * and double-exact range at every test SF. */
  private[graft] val Scale = 10000.0

  val gram: GraftQuery = checked("ns_vec_gram",
    s"""WITH q AS (
      SELECT vec_id, i, CAST(FLOOR(CAST(e AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    n AS (SELECT COUNT(*) AS n FROM embeddings),
    sums AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY i),
    gram AS (
      SELECT a.i AS dim_i, b.i AS dim_j, CAST(SUM(a.q * b.q) AS BIGINT) AS s_ij
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2)
    SELECT CAST(g.dim_i AS INTEGER) AS dim_i, CAST(g.dim_j AS INTEGER) AS dim_j, g.s_ij,
           ROUND((CAST(g.s_ij AS DOUBLE) - CAST(sa.s AS DOUBLE) * sb.s / n.n)
                 / (n.n - 1), 4) AS cov
    FROM gram g
    JOIN sums sa ON sa.i = g.dim_i
    JOIN sums sb ON sb.i = g.dim_j
    CROSS JOIN n
    ORDER BY dim_i, dim_j""") { (spark, dir) =>
    val q = Tables.embeddings(spark, dir).select(
      expr(s"transform(embedding, x -> cast(floor(cast(x as double) * $Scale + 0.5d) as bigint))")
        .as("q"))
    gramAggCore(spark, q, Dim).orderBy("dim_i", "dim_j")
  }

  /** Embedding dimensionality of the corpus table — [[GramAggregator]]
    * `require`s every row matches, so a schema drift fails loudly. */
  private[graft] val Dim = 64

  /** The zero-join gram core over a quantized `(q: array<bigint>)`
    * frame. Emits 1-based
    * (dim_i ≤ dim_j) to match the oracle's `generate_subscripts`. */
  private[graft] def gramCore(q: DataFrame): DataFrame = {
    val gram = q
      .select(explode(expr(
        """flatten(transform(q, (x, i) ->
          |  transform(slice(q, i + 1, size(q) - i),
          |            (y, j) -> struct(i + 1 AS dim_i, i + j + 1 AS dim_j,
          |                             x * y AS p))))""".stripMargin)).as("c"))
      .groupBy(col("c.dim_i").as("dim_i"), col("c.dim_j").as("dim_j"))
      .agg(sum(col("c.p")).as("s_ij"))
    val sums = q
      .select(posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy((col("pos") + 1).as("i"))
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
    gram
      .join(broadcast(sums.select(col("i").as("dim_i"), col("s").as("s_a"))), "dim_i")
      .join(broadcast(sums.select(col("i").as("dim_j"), col("s").as("s_b"), col("n"))), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("s_ij"),
        dround((col("s_ij").cast("double") - col("s_a").cast("double") * col("s_b") / col("n"))
          / (col("n") - 1), 4).as("cov"))
  }

  /** The one-pass aggregator gram core — PRIMARY path for [[gram]].
    * One `GramAggregator` fold (see its scaladoc for the buffer
    * layout and why it beats the explode plan) produces a single
    * model-sized row: d(d+1)/2 pair sums + d dimension sums + n,
    * ~17 KB at d = 64 — collected to the driver exactly like the
    * k-means centroid update (model-sized state, bound documented,
    * never data-plane rows). The 2080-cell reshape then runs through
    * the SAME `dround` covariance select as [[gramCore]], so the two
    * plans and the oracle stay bit-identical. */
  private[graft] def gramAggCore(spark: SparkSession, q: DataFrame, d: Int): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.GramAggregator(d).toColumn
    val buf = q.as[Seq[Long]].select(agg).head() // one row: T + d + 1 longs
    val t0 = d * (d + 1) / 2
    val n = buf(t0 + d)
    val cells = (for {
      i <- 0 until d
      j <- i until d
    } yield {
      val t = i * d - i * (i - 1) / 2 + (j - i)
      (i + 1, j + 1, buf(t), buf(t0 + i), buf(t0 + j), n)
    }).toSeq
    cells.toDF("dim_i", "dim_j", "s_ij", "s_a", "s_b", "n")
      .select(col("dim_i"), col("dim_j"), col("s_ij"),
        dround((col("s_ij").cast("double") - col("s_a").cast("double") * col("s_b") / col("n"))
          / (col("n") - 1), 4).as("cov"))
  }

  /** Driver-side power iteration over the d×d covariance from
    * [[gram]] — the model-sized step that turns the distributed sums
    * into a principal axis. Returns (eigenvalue, eigenvector). Used by
    * the spec to close the PCA loop; callers would broadcast the
    * resulting basis back for the projection pass. */
  private[graft] def topEigen(cov: Array[Array[Double]], iters: Int = 200): (Double, Array[Double]) = {
    val d = cov.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val w = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * v(j); j += 1 }
        s
      })
      val norm = math.sqrt(w.map(x => x * x).sum)
      require(norm > 0, "power iteration collapsed: zero covariance matrix")
      v = w.map(_ / norm)
      lambda = norm
    }
    (lambda, v)
  }

  /** Power-iteration count for [[pcaProject]] — interpolated into BOTH
    * the driver loop and the oracle's unrolled CTE chain (the
    * BPE/pageRank shared-constant convention). Exactness does NOT
    * depend on convergence: both engines run the identical K integer
    * iterations, so outputs match bit-for-bit at any K; K=16 is enough
    * for the spec's Rayleigh-quotient check to sit within 1% of the
    * double-precision [[topEigen]]. */
  private[graft] val PowerIters = 24

  /** v-vector quantization: components live in [−1e6, 1e6]. */
  private val VScale = 1000000L

  /** Covariance-matrix quantization for the integer eigensolve: the
    * integer-rounded micro-unit covariance is SELF-SCALED by its own
    * max-abs entry to [−1e5, 1e5] (eigenvectors are scale-invariant;
    * the div is non-negative integer division, order-free). This gives
    * UNIVERSAL overflow headroom independent of the data:
    * |w| ≤ d·CScale·VScale = 6.4e12 and the normalize multiply peaks
    * at 6.4e18 < 2⁶³ for ANY corpus — the unscaled micro-unit matrix
    * (entries up to ~1e8 for unit-norm data) would overflow the
    * normalize multiply, silently in JVM longs and loudly in DuckDB
    * (caught in r8 calibration: the overflow stalled the Rayleigh
    * quotient at 0.62·λ; self-scaled it reaches 0.987·λ by K=24). */
  private[graft] val CScale = 100000L

  /** The integer power-iteration step shared by the Spark driver loop
    * and (textually) the oracle CTEs: w = C·v over BIGINTs, then
    * ∞-NORM normalization via non-negative integer division —
    * `sign(w)·((|w|·1e6) div max|w|)`. Why ∞-norm: an L2 normalize
    * needs a sqrt and double sums (order-sensitive); max|w| is
    * order-free and keeps every intermediate an EXACT integer, so the
    * iteration is bit-identical on any engine and any partitioning.
    * (Sign is handled explicitly because trunc-div (Spark/Scala) and
    * floor-div (DuckDB `//`) disagree on negatives; on non-negative
    * operands they agree.) Bounds: |c| ≤ [[CScale]] = 1e5 by
    * construction (self-scaled matrix), so |w| ≤ 64·1e5·1e6 = 6.4e12
    * and the normalize multiply peaks at 6.4e18 < 2⁶³ — for any
    * corpus. */
  private[graft] def powerStep(covMicro: Array[Array[Long]], v: Array[Long]): Array[Long] = {
    val d = covMicro.length
    val w = Array.tabulate(d) { i =>
      var s = 0L; var j = 0
      while (j < d) { s += covMicro(i)(j) * v(j); j += 1 }
      s
    }
    val m = w.map(math.abs).max
    require(m > 0, "power iteration collapsed: zero covariance matrix")
    w.map(wi => if (wi < 0) -((-wi) * VScale / m) else wi * VScale / m)
  }

  /** PCA PROJECTION — the step [[gram]]'s doc promised: learn the
    * corpus's principal axis and project every embedding onto it (the
    * 1-D case of PCA compression / whitening; per-label projection
    * stats are the classic "does the leading axis separate my
    * labels?" diagnostic). ORACLE-EXACT despite being an iterative
    * eigensolve: the micro-unit covariance rounds to integers and
    * self-scales to [[CScale]] (both steps exact and order-free), the
    * [[PowerIters]] power iterations run in pure BIGINT
    * arithmetic with ∞-norm normalization ([[powerStep]]), and the
    * projection Σ qᵢ·vᵢ is a BIGINT dot of quantized components —
    * every emitted number is an exact integer both engines compute
    * identically (the k-means/BPE iterative-oracle family, extended
    * to spectral methods).
    *
    * Scale shape: the gram pass is the one corpus scan (model-sized
    * aggregate, [[gramAggCore]]); the eigensolve is driver-side d×d
    * integer math; the projection is a second corpus scan with v as a
    * constant-folded literal — map-side partial aggregation by label,
    * zero joins, zero corpus shuffle (the DSIR scoring shape). */
  /** Shared oracle prefix: quantized scan → gram → self-scaled integer
    * covariance → the [[PowerIters]] axis-1 iterations (final vector
    * CTE `v$PowerIters`). */
  private def pcaOraclePrefix: String = {
    val base = s"""WITH q AS MATERIALIZED (
      SELECT vec_id, label, i, CAST(FLOOR(CAST(e AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS qq
      FROM (SELECT vec_id, label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    n AS (SELECT COUNT(*) AS n FROM embeddings),
    sums AS (SELECT i, CAST(SUM(qq) AS BIGINT) AS s FROM q GROUP BY i),
    gram AS (
      SELECT a.i AS dim_i, b.i AS dim_j, CAST(SUM(a.qq * b.qq) AS BIGINT) AS s_ij
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2),
    covi AS (
      SELECT g.dim_i, g.dim_j,
             CAST(ROUND(ROUND((CAST(g.s_ij AS DOUBLE) - CAST(sa.s AS DOUBLE) * sb.s / n.n)
                              / (n.n - 1), 4)) AS BIGINT) AS ci
      FROM gram g
      JOIN sums sa ON sa.i = g.dim_i
      JOIN sums sb ON sb.i = g.dim_j
      CROSS JOIN n),
    cm AS (SELECT MAX(ABS(ci)) AS m FROM covi),
    cov AS (
      SELECT dim_i, dim_j,
             CAST(CASE WHEN ci < 0 THEN -(((-ci) * $CScale) // m)
                       ELSE (ci * $CScale) // m END AS BIGINT) AS c
      FROM covi CROSS JOIN cm),
    covf AS MATERIALIZED (
      SELECT dim_i AS i, dim_j AS j, c FROM cov
      UNION ALL
      SELECT dim_j, dim_i, c FROM cov WHERE dim_i <> dim_j),
    v0 AS (SELECT CAST(t.i AS INTEGER) AS i, CAST($VScale AS BIGINT) AS v
           FROM range(1, ${Dim + 1}) t(i))"""
    val iters = (1 to PowerIters).map { t =>
      s""",
    w$t AS MATERIALIZED (SELECT covf.i AS i, CAST(SUM(covf.c * v${t - 1}.v) AS BIGINT) AS w
            FROM covf JOIN v${t - 1} ON v${t - 1}.i = covf.j GROUP BY 1),
    m$t AS (SELECT MAX(ABS(w)) AS m FROM w$t),
    v$t AS MATERIALIZED (SELECT i, CAST(CASE WHEN w < 0 THEN -(((-w) * $VScale) // m)
                                ELSE (w * $VScale) // m END AS BIGINT) AS v
            FROM w$t CROSS JOIN m$t)"""
    }.mkString
    base + iters
  }

  val pcaProject: GraftQuery = checked("ns_vec_pca_project",
    pcaOraclePrefix + s""",
    pr AS (SELECT q.vec_id, q.label, CAST(SUM(q.qq * vf.v) AS BIGINT) AS proj
           FROM q JOIN v$PowerIters vf ON vf.i = q.i
           GROUP BY 1, 2)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(proj) AS proj_min,
           MAX(proj) AS proj_max,
           CAST(SUM(proj) AS BIGINT) AS proj_sum
    FROM pr GROUP BY label ORDER BY label""") { (spark, dir) =>
    projectByLabel(spark, dir, axis1(scaledCov(spark, dir)))
  }

  /** The converged axis-1 vector — the one driver loop both queries
    * and [[deflatedAxis]]'s second solve share. */
  private[graft] def axis1(covM: Array[Array[Long]]): Array[Long] = {
    var v = Array.fill(covM.length)(VScale)
    for (_ <- 1 to PowerIters) v = powerStep(covM, v)
    v
  }

  /** The self-scaled integer covariance grid (see [[CScale]]). */
  private def scaledCov(spark: SparkSession, dir: String): Array[Array[Long]] = {
    val covRows = gram.run(spark, dir)
      .select(col("dim_i"), col("dim_j"), round(col("cov")).cast("long").as("ci"))
      .collect()
    val covI = Array.ofDim[Long](Dim, Dim)
    covRows.foreach { r =>
      val (i, j, c) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getLong(2))
      covI(i)(j) = c; covI(j)(i) = c
    }
    val cmax = covI.flatten.map(math.abs).max
    require(cmax > 0, "zero covariance matrix")
    covI.map(_.map(ci => sdiv(ci * CScale, cmax)))
  }

  /** Map-only per-label projection stats onto an integer axis. */
  private def projectByLabel(spark: SparkSession, dir: String, v: Array[Long]) = {
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    Tables.embeddings(spark, dir)
      .select(col("label"),
        aggregate(
          zip_with(
            expr(s"transform(embedding, x -> cast(floor(cast(x as double) * $Scale + 0.5d) as bigint))"),
            vLit, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("proj"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("proj").as("proj_min"),
        max("proj").as("proj_max"), sum("proj").as("proj_sum"))
      .orderBy("label")
  }

  /** Sign-split truncating division — Scala's `/` semantics, spelled
    * so the oracle (whose `//` FLOORS on negatives) can mirror it with
    * the identical CASE split. */
  @inline private[graft] def sdiv(a: Long, b: Long): Long =
    if (a < 0) -((-a) / b) else a / b

  /** The SECOND principal axis via Hotelling DEFLATION, still
    * oracle-exact: λ̂₁ = (v·(Cv div V)) div ((v·v) div V) in scaled
    * integer units (the div-before-multiply order keeps every
    * intermediate under 2⁶³ — vᵀCv computed directly overflows),
    * D = C − (λ̂₁·((vᵢvⱼ) div V)) div ((v·v) div V) — i.e. the rank-1
    * term over ‖v‖², NOT V² — re-self-scaled to [[CScale]],
    * then the same [[PowerIters]] BIGINT iterations on D. Every step
    * is order-free integer arithmetic, so the oracle replays axis 1,
    * the deflation grid, and axis 2 as one CTE chain and the per-label
    * projection stats hash-match. Emits axis-2 projections — with
    * [[pcaProject]] this is top-2 PCA, the 2-D visualization /
    * compression basis. */
  val pcaAxis2: GraftQuery = checked("ns_vec_pca_axis2", {
    val k = PowerIters
    val axis2Iters = (1 to k).map { t =>
      val prev = if (t == 1) "b0" else s"bv${t - 1}"
      s""",
    bw$t AS MATERIALIZED (SELECT covf2.i AS i, CAST(SUM(covf2.c * $prev.v) AS BIGINT) AS w
            FROM covf2 JOIN $prev ON $prev.i = covf2.j GROUP BY 1),
    bm$t AS (SELECT MAX(ABS(w)) AS m FROM bw$t),
    bv$t AS MATERIALIZED (SELECT i, CAST(CASE WHEN w < 0 THEN -(((-w) * $VScale) // m)
                                ELSE (w * $VScale) // m END AS BIGINT) AS v
            FROM bw$t CROSS JOIN bm$t)"""
    }.mkString
    pcaOraclePrefix + s""",
    wx AS (SELECT covf.i AS i, CAST(SUM(covf.c * vk.v) AS BIGINT) AS w
           FROM covf JOIN v$k vk ON vk.i = covf.j GROUP BY 1),
    wd AS (SELECT i, CAST(CASE WHEN w < 0 THEN -((-w) // $VScale)
                               ELSE w // $VScale END AS BIGINT) AS wd FROM wx),
    lnum AS (SELECT CAST(SUM(vk.v * wd.wd) AS BIGINT) AS x
             FROM v$k vk JOIN wd ON wd.i = vk.i),
    lden AS (SELECT CAST(SUM(v * v) // $VScale AS BIGINT) AS d FROM v$k),
    lam AS (SELECT CAST(CASE WHEN num.x < 0 THEN -((-num.x) // den.d)
                             ELSE num.x // den.d END AS BIGINT) AS l
            FROM lnum num CROSS JOIN lden den),
    vv AS (SELECT a.i AS i, b.i AS j,
                  CAST(CASE WHEN a.v * b.v < 0 THEN -((-(a.v * b.v)) // $VScale)
                            ELSE (a.v * b.v) // $VScale END AS BIGINT) AS p
           FROM v$k a CROSS JOIN v$k b),
    defl AS MATERIALIZED (
      SELECT f.i, f.j,
             f.c - (CASE WHEN lam.l * vv.p < 0 THEN -((-(lam.l * vv.p)) // den.d)
                         ELSE (lam.l * vv.p) // den.d END) AS dd
      FROM covf f JOIN vv ON vv.i = f.i AND vv.j = f.j
      CROSS JOIN lam CROSS JOIN lden den),
    dm AS (SELECT MAX(ABS(dd)) AS m FROM defl),
    covf2 AS MATERIALIZED (
      SELECT i, j, CAST(CASE WHEN dd < 0 THEN -(((-dd) * $CScale) // m)
                             ELSE (dd * $CScale) // m END AS BIGINT) AS c
      FROM defl CROSS JOIN dm),
    b0 AS (SELECT CAST(t.i AS INTEGER) AS i, CAST($VScale AS BIGINT) AS v
           FROM range(1, ${Dim + 1}) t(i))""" + axis2Iters + s""",
    pr AS (SELECT q.vec_id, q.label, CAST(SUM(q.qq * vf.v) AS BIGINT) AS proj
           FROM q JOIN bv$k vf ON vf.i = q.i
           GROUP BY 1, 2)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(proj) AS proj_min,
           MAX(proj) AS proj_max,
           CAST(SUM(proj) AS BIGINT) AS proj_sum
    FROM pr GROUP BY label ORDER BY label"""
  }) { (spark, dir) =>
    val covM = scaledCov(spark, dir)
    projectByLabel(spark, dir, deflatedAxis(covM, axis1(covM)))
  }

  /** Axis-2 driver math — exposed for the orthogonality spec. */
  private[graft] def deflatedAxis(covM: Array[Array[Long]], v: Array[Long]): Array[Long] = {
    val d = covM.length
    val wx = Array.tabulate(d)(i => (0 until d).map(j => covM(i)(j) * v(j)).sum)
    val wd = wx.map(sdiv(_, VScale))
    val lnum = (0 until d).map(i => v(i) * wd(i)).sum
    val lden = v.map(x => x * x).sum / VScale // non-negative: plain div
    val lam = sdiv(lnum, lden)
    // rank-1 removal is λ̂·v vᵀ/‖v‖² — divide by Σv² (as lden·V, done
    // as sdiv-by-V then sdiv-by-lden), NOT by V²: the ∞-normalized v
    // has ‖v‖² up to d·V², and dividing by V² overshoots the
    // subtraction by that ratio, leaving a large NEGATIVE eigenvalue
    // along v1 that power iteration converges straight back to
    // (caught by the orthogonality spec: |cos| read 0.99999)
    val defl = Array.tabulate(d, d)((i, j) =>
      covM(i)(j) - sdiv(lam * sdiv(v(i) * v(j), VScale), lden))
    val dmax = defl.flatten.map(math.abs).max
    require(dmax > 0, "deflation collapsed: rank-1 covariance")
    val covM2 = defl.map(_.map(x => sdiv(x * CScale, dmax)))
    axis1(covM2)
  }

  val all: Seq[GraftQuery] = Seq(gram, pcaProject, pcaAxis2)
}
