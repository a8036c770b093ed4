package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** Statistical text classification — a multinomial Naive Bayes
  * classifier TRAINED and APPLIED inside the engine (north-star
  * extension: the learned counterpart of the hand-rule
  * `ns_text_langid` heuristic; the fastText-style quality/language
  * gate every corpus assembly runs is exactly this shape — a linear
  * model over token counts, trained on a labeled split, scored over
  * the full corpus).
  *
  * Label: `lang = 'en'` (binary). Train split: `doc_id % 5 <> 0`;
  * eval split: `doc_id % 5 = 0` — deterministic, content-independent.
  *
  * Scale shape: training is ONE corpus-token shuffle keyed on the
  * token (vocabulary-sized output with map-side partial counts);
  * totals/priors are 1-row aggregates of the vocabulary-sized model
  * frame; scoring broadcasts the weighted model back to the corpus
  * token stream and reduces per-doc — a second corpus shuffle keyed
  * on doc_id. Nothing driver-side anywhere. At a 10M-entry
  * vocabulary swap the broadcast for a shuffle join keyed on the
  * 64-bit token hash (the [[TextOps.perplexity]] pattern — hash
  * equality ≡ string equality at 2⁻⁶⁴); the per-doc reduce is
  * unchanged.
  *
  * Determinism (the float contract): per-token log-likelihood-ratio
  * weights are quantized to INTEGER MICRO-UNITS at the model — each
  * weight is `FLOOR((ln(c⁺+1) − ln(n⁺+V) − ln(c⁻+1) + ln(n⁻+V)) ·
  * 10⁶)` of exact-integer inputs, the identical left-associated
  * expression on both engines — so the per-doc score is an exact
  * BIGINT sum, immune to float accumulation order (stronger than
  * rounding AFTER a double sum: the sum itself is integral). The OOV
  * weight is the same four-ln shape at c⁺ = c⁻ = 0, and the class
  * prior is the same quantization of ln(d⁺) − ln(d⁻).
  */
object TextClassify {

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), (col("lang") === "en").as("pos"),
      explode(split(col("text"), " ")).as("w"))

  /** The shared four-ln quantizer — hoisted to
    * [[graft.functions.ExactMath]] (r8 advice: `ns_text_source_drift`
    * re-derived the chain inline instead of reusing it). */
  private def microLnRatio(a: Column, b: Column, c: Column, d: Column): Column =
    graft.functions.ExactMath.microLnRatio(a, b, c, d)

  /** Per-eval-doc NB scores: (doc_id, lang, n_toks, score_micro, pred_en, is_en). */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    nbClassifyCore(Tables.documents(spark, dir))

  /** Core on any (doc_id, lang, text) frame: train on `doc_id % 5 != 0`,
    * score `doc_id % 5 = 0` (scaling numbers: BASELINE.md "Round-6b
    * additions"). */
  def nbClassifyCore(docs: DataFrame): DataFrame = {
    val train = tokens(docs.where(col("doc_id") % 5 =!= 0))
    val eval = tokens(docs.where(col("doc_id") % 5 === 0))

    val model = train.groupBy("w").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("c_neg"))
    val tot = model.agg(
      sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"),
      count(lit(1)).as("v"))
    val priors = train.agg(
      countDistinct(when(col("pos"), col("doc_id"))).as("d_pos"),
      countDistinct(when(!col("pos"), col("doc_id"))).as("d_neg"))

    val weighted = model.crossJoin(broadcast(tot))
      .select(col("w"),
        microLnRatio(col("c_pos") + 1, col("n_pos") + col("v"),
          col("c_neg") + 1, col("n_neg") + col("v")).as("w_micro"))
    val scalars = tot.crossJoin(priors)
      .select(
        microLnRatio(lit(1L), col("n_pos") + col("v"),
          lit(1L), col("n_neg") + col("v")).as("w_oov"),
        floor((log(col("d_pos").cast("double"))
          - log(col("d_neg").cast("double"))) * 1000000.0).cast("long").as("prior_micro"))

    eval
      .join(broadcast(weighted), Seq("w"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("doc_id"), col("lang"), col("prior_micro"))
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("w_micro"), col("w_oov"))).as("sum_w"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        (col("prior_micro") + col("sum_w")).as("score_micro"),
        (col("prior_micro") + col("sum_w") > 0).as("pred_en"),
        (col("lang") === "en").as("is_en"))
      .orderBy("doc_id")
  }

  val nbClassifyQ: GraftQuery = GraftQuery.checked("ns_text_nb_classify",
    """WITH toks AS (
      SELECT doc_id, lang, (lang = 'en') AS pos, unnest(string_split(text, ' ')) AS w
      FROM documents),
    train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
    eval AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
    model AS (
      SELECT w,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
      FROM train GROUP BY w),
    tot AS (
      SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
             CAST(SUM(c_neg) AS BIGINT) AS n_neg,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM model),
    priors AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN pos THEN doc_id END) AS BIGINT) AS d_pos,
             CAST(COUNT(DISTINCT CASE WHEN NOT pos THEN doc_id END) AS BIGINT) AS d_neg
      FROM train),
    weighted AS (
      SELECT m.w,
             CAST(FLOOR((ln(CAST(m.c_pos + 1 AS DOUBLE)) - ln(CAST(t.n_pos + t.v AS DOUBLE))
                       - ln(CAST(m.c_neg + 1 AS DOUBLE)) + ln(CAST(t.n_neg + t.v AS DOUBLE)))
                        * 1000000.0) AS BIGINT) AS w_micro
      FROM model m CROSS JOIN tot t),
    scalars AS (
      SELECT CAST(FLOOR((ln(CAST(1 AS DOUBLE)) - ln(CAST(t.n_pos + t.v AS DOUBLE))
                       - ln(CAST(1 AS DOUBLE)) + ln(CAST(t.n_neg + t.v AS DOUBLE)))
                        * 1000000.0) AS BIGINT) AS w_oov,
             CAST(FLOOR((ln(CAST(p.d_pos AS DOUBLE)) - ln(CAST(p.d_neg AS DOUBLE)))
                        * 1000000.0) AS BIGINT) AS prior_micro
      FROM tot t CROSS JOIN priors p)
    SELECT e.doc_id, e.lang, COUNT(*) AS n_toks,
           CAST(s.prior_micro + SUM(COALESCE(wt.w_micro, s.w_oov)) AS BIGINT) AS score_micro,
           CAST(s.prior_micro + SUM(COALESCE(wt.w_micro, s.w_oov)) AS BIGINT) > 0 AS pred_en,
           (e.lang = 'en') AS is_en
    FROM eval e LEFT JOIN weighted wt USING (w) CROSS JOIN scalars s
    GROUP BY e.doc_id, e.lang, s.prior_micro, s.w_oov
    ORDER BY e.doc_id""")((s, d) => nbClassify(s, d))

  // ---- batch perceptron ---------------------------------------------------

  /** Iterations — interpolated into BOTH the driver loop and the
    * oracle's unrolled CTE chain (the BPE/pageRank/PCA convention). */
  private[graft] val PerceptronIters = 8

  /** TRAINED linear classifier #2: a BATCH PERCEPTRON over hashed
    * bigram features (B = 256 buckets, first md5 byte — the DSIR
    * feature space), label `lang = 'en'` as y = ±1. Per iteration:
    * margin_d = Σ_f w[f]·cnt_d[f]; every doc with y·margin ≤ 0 is
    * misclassified and contributes y·cnt to the weight update — the
    * classic parallel (batch) perceptron (Rosenblatt's rule summed
    * over the misclassified set), chosen over logistic regression
    * because it is TRANSCENDENTAL-FREE: weights, margins and updates
    * are exact BIGINTs end to end (no exp/σ whose last-ulp behavior
    * differs between libm implementations), so the oracle replays the
    * identical [[PerceptronIters]] iterations and hash-matches.
    * Emits the training curve: (iter, n_misclassified, upd_l1).
    *
    * Scale shape (the DSIR-rowwise lesson): the corpus collapses ONCE
    * to per-doc feature vectors (doc, y, [(f, cnt)]); each iteration
    * is then a JOIN-FREE map — the margin is a row-local fold with the
    * weight vector as a constant-folded literal — plus one B-bounded
    * update aggregate (map-side partials, 256 keys) collected to the
    * driver exactly like the k-means centroid update. K iterations =
    * K corpus scans, zero corpus shuffles, model traffic 256 longs per
    * iteration. */
  private[graft] def docVectors(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("y"),
        explode(expr(
          "transform(sequence(1, size(t)-1), i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
          .as("g"))
      .select(col("doc_id"), col("y"),
        conv(substring(md5(col("g")), 1, 2), 16, 10).cast("int").as("f"))
      .groupBy("doc_id", "y", "f").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "y")
      .agg(collect_list(struct(col("f"), col("cnt"))).as("fs"))
      // collect_list order is nondeterministic — sound here because
      // every consumer is an order-invariant integer sum

  val perceptron: GraftQuery = GraftQuery.checked("ns_text_perceptron", {
    val base = """WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2),
    df AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
             (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS f,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bg GROUP BY 1, 2, 3),
    w0 AS MATERIALIZED (
      SELECT CAST(t.i AS BIGINT) - 1 AS f, CAST(0 AS BIGINT) AS w
      FROM range(1, 257) t(i))"""
    val iters = (1 to PerceptronIters).map { t =>
      s""",
    m$t AS MATERIALIZED (
      SELECT d.doc_id, d.y, CAST(SUM(w.w * d.cnt) AS BIGINT) AS margin
      FROM df d JOIN w${t - 1} w USING (f) GROUP BY 1, 2),
    mc$t AS MATERIALIZED (SELECT doc_id, y FROM m$t WHERE y * margin <= 0),
    u$t AS MATERIALIZED (
      SELECT d.f, CAST(SUM(d.y * d.cnt) AS BIGINT) AS u
      FROM df d JOIN mc$t USING (doc_id) GROUP BY 1),
    w$t AS MATERIALIZED (
      SELECT w.f, w.w + COALESCE(u.u, 0) AS w
      FROM w${t - 1} w LEFT JOIN u$t u USING (f)),
    c$t AS (SELECT CAST($t AS BIGINT) AS iter,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM mc$t) AS n_misclassified,
                   (SELECT CAST(COALESCE(SUM(ABS(u)), 0) AS BIGINT) FROM u$t) AS upd_l1)"""
    }.mkString
    base + iters + "\n    " +
      (1 to PerceptronIters).map(t => s"SELECT * FROM c$t").mkString("\n    UNION ALL ") +
      "\n    ORDER BY iter"
  }) { (spark, dir) =>
    import spark.implicits._
    // Partition counts derive from DATA SIZE, not core count (r15
    // verdict next-round #7: the row is job-floor bound — 8 sequential
    // iterations × (32 map + 32 reduce) KB-sized tasks at
    // shuffle.partitions = cpus; the 8-core bench run read the whole
    // row at 0.82 s for exactly this reason). ~100k docs per cached dv
    // partition keeps per-task state model-bounded at any SF (sf0.1:
    // 1 partition; a 100 TB corpus: ~nDocs/1e5 partitions), and the
    // 257-group final aggregate coalesces to ~1 task per 4096 map
    // partials (≤ ~1M partial rows/task) — both scale-adaptive, both
    // exact (sums are order-invariant). Divisor A/B'd at the TextSf1
    // 100× plane (500k docs): 20k docs/partition (25 tasks) read
    // SLOWER at BOTH core counts than 100k (5 tasks) — 3.67/2.72 s
    // (32c/8c) vs 2.23/2.28 s — the iteration is job-floor-bound even
    // at 100×, so coarse partitions win; 100k kept.
    val nDocs = OpMemo.cachedLong(spark, dir, "text:ndocs")(
      Tables.documents(spark, dir).count())
    val dvParts = math.max(1L, math.min(1L << 16, (nDocs + 99999L) / 100000L)).toInt
    val aggParts = math.max(1, dvParts / 4096)
    val dv = OpMemo.cached(spark, dir, "perceptron-docvec") {
      docVectors(Tables.documents(spark, dir)).coalesce(dvParts)
    }
    val w = Array.fill(256)(0L)
    val curve = Seq.newBuilder[(Int, Long, Long)]
    for (t <- 1 to PerceptronIters) {
      // ONE array literal, not array(256 lit(...)) — a CreateArray of
      // 256 primitive literals inlines them into the generated source,
      // so every iteration's new weights forced a fresh whole-stage
      // codegen COMPILE (~0.4 s/iter, the real cost of this loop, r11
      // measured); a single array Literal rides the codegen reference
      // table, the generated source is iteration-invariant, and the
      // compile cache hits
      val wArr = lit(w.clone())
      // ONE action AND one cached-dv scan per iteration (r11 fused the
      // 3 actions/iter into one union-of-two-aggregates; r15 fuses the
      // two aggregate SUBTREES — each re-evaluated the sparse dot and
      // re-scanned dv — into a single explode+groupBy by appending a
      // sentinel f = -1 feature with cnt = 1 to every misclassified
      // doc's feature list: count(*) of the sentinel group is the
      // misclassified-doc count, and its sum(y·cnt) column is simply
      // ignored). The margin is a codegen'd sparse dot
      // ([[SparseCountDot]] — the interpreted 256-literal HOF fold ran
      // outside whole-stage codegen, the repo's measured gotcha); it
      // now evaluates exactly once per doc per iteration.
      val miscl = dv.withColumn("margin",
          graft.functions.VectorExpressions.sparseCountDot(col("fs"), wArr))
        .where(col("y") * col("margin") <= 0)
      val res = miscl
        .select(col("y"), explode(concat(col("fs"),
          array(struct(lit(-1).as("f"), lit(1L).as("cnt"))))).as("e"))
        .groupBy(col("e.f").as("f"))
        .agg(sum(col("y") * col("e.cnt")).as("u"), count(lit(1)).as("n"))
        .coalesce(aggParts) // merge the ≤257-group final agg's tasks (see above)
        .collect()
      val upd = res.filter(_.getInt(0) >= 0).map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nMiscl = res.find(_.getInt(0) == -1).map(_.getLong(2)).getOrElse(0L)
      curve += ((t, nMiscl, upd.values.map(math.abs).sum))
      upd.foreach { case (f, u) => w(f) += u }
    }
    curve.result().toDF("iter", "n_misclassified", "upd_l1")
      .select(col("iter").cast("long").as("iter"), col("n_misclassified"), col("upd_l1"))
      .orderBy("iter")
  }

  val all: Seq[GraftQuery] = Seq(nbClassifyQ, perceptron)
}
