package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** Data-SELECTION operators — the curation stage that decides what a
  * training mix actually contains, after cleaning/dedup have decided
  * what it may contain:
  *
  *  - [[ccnetBuckets]]: CCNet-style perplexity bucketing (Wenzek et
  *    al. 2020, "CCNet: Extracting High Quality Monolingual Datasets
  *    from Web Crawl Data") — per language, split the corpus into
  *    head/middle/tail terciles by LM log-probability; mixes are then
  *    drawn per bucket (the original CCNet keeps head+middle).
  *  - [[dsir]]: hashed-n-gram importance weighting (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling")
  *    — score every document by how much more likely its features are
  *    under a TARGET distribution than under the raw corpus, using a
  *    FIXED-SIZE hashed feature table; select the top-N.
  *
  * Scale notes: both are one-to-two-shuffle shapes. DSIR's design
  * point IS the fixed table — `B` buckets regardless of corpus size,
  * so the model broadcasts and scoring is a map pass + per-doc sum at
  * any scale (the paper's reason for hashing over exact n-grams).
  * CCNet bucketing rides the per-doc perplexity frame; tercile
  * assignment is the TWO-PHASE DISTRIBUTED RANK (the `valueRanks`
  * shape from gini/rfm, never a per-lang NTILE window — one language
  * = one reducer sorting that language's whole corpus, and at 100 TB
  * the English partition IS the crawl; r7 verdict #1): rank within
  * (lang, logp-bin) partitions + broadcast per-bin offsets, then the
  * NTILE identity `bucket = (rank−1)·3 div N + 1` — bit-identical to
  * the window form (spec'd), zero global sort.
  */
object TextSelection {

  /** Quantization bin for the distributed rank: `avg_logp` is already
    * ROUND(·,4), so ×10⁴ is an exact integer ("lmicro"); bins of 1000
    * lmicro = 0.1 logp units keep per-(lang,bin) partitions bounded
    * while staying rank-order-consistent with the tercile sort key. */
  private val RankBinWidth = 1000L

  /** Boundary bins above this row count are recursively refined
    * (sub-ranked by exact value + doc-id band) instead of sorted in
    * one task. Sized so a boundary partition sort stays executor-local
    * cheap at any corpus scale. */
  private[graft] val BoundaryRowCap: Long = 1L << 20
  /** Doc-id bands a whale bin is split into; ties on the rounded logp
    * spread by doc_id (uniform by construction at ingest), so each
    * band sorts ~bin_n / 256 rows. */
  private val BandCount = 256

  /** Per-doc tercile assignment WITHOUT a per-lang global window:
    *  1. lkey = −lmicro (ascending lkey ⇔ avg_logp DESC, the NTILE
    *     sort direction); bin = floor(lkey / RankBinWidth).
    *  2. per-(lang,bin) counts → per-lang running offsets (a window
    *     over the BIN frame: #langs × #bins rows, broadcast back).
    *  3. the NTILE identity bucket = (rank−1)·3 div N + 1 applied to
    *     the bin's rank RANGE [off+1, off+bin_n]: when first and last
    *     rank land in the same bucket the whole bin is UNIFORM — its
    *     docs take that bucket by comparison alone, zero data movement.
    *     Only BOUNDARY bins (a tercile cut falls inside: at most 2 per
    *     language) rank their docs via bin_off + row_number within
    *     (lang, bin) — the `valueRanks` two-phase core restricted to
    *     the bins that need intra-bin order (r8: the unrestricted form
    *     shuffled the whole corpus into the rank window and measured 2×
    *     the NTILE window locally; this form moves boundary rows only).
    *  4. a fixed-value-width bin holds a corpus-PROPORTIONAL fraction
    *     of its language (density at the cut × 0.1 logp — and on a
    *     tie-heavy corpus most of it; r8 verdict #1), so a boundary
    *     bin above `boundaryCap` rows is REFINED: sub-ranked by the
    *     exact (lkey, doc-id band) composite — order-consistent with
    *     (lkey, doc_id) because bands are doc-id RANGES — with a
    *     second count/offset frame per (lang,bin,lkey,band) and
    *     row_number only within each band. A tied-logp whale thus
    *     sorts ≤ ~bin_n/256 rows per task instead of the whole bin
    *     (BASELINE.md "Round 7 probes", selection weak-scaling).
    *  5. integer `div`, no double rounding at bucket boundaries; exact
    *     for row_number-ranked NTILE.
    * Exposed for the window-equivalence spec (which also pins the
    * refined path via `boundaryCap = 1`). */
  private[graft] def langTerciles(perdoc: DataFrame,
      boundaryCap: Long = BoundaryRowCap): DataFrame = {
    val spark = perdoc.sparkSession
    val keyed = perdoc
      .withColumn("lkey", -round(col("avg_logp") * 10000).cast("long"))
      .withColumn("bin", floor(col("lkey").cast("double") / RankBinWidth).cast("long"))
    // ONE broadcast frame: per-(lang,bin) rank offset, per-lang total,
    // the bucket of the bin's first and last rank, and the bin's doc-id
    // range (band geometry for whale refinement). LOCALIZED (r16,
    // verdict next-round #4): the frame is langs × bins rows — already
    // inside the broadcast contract — and as a lazy subtree (groupBy +
    // two windows over the perplexity frame) it was re-PLANNED under
    // each of the three branches below, the bulk of this operator's
    // 1054-line plan. The `valueRanks` discipline instead: one eager
    // bounded collect, the prefix/total/bucket arithmetic folded
    // driver-side in exact integers, and the result re-lifted as a
    // LocalRelation — the three branches now join a literal frame.
    // Memoized per canonicalized input plan (rankMemo: bounded, LRU,
    // session-scoped, static-input contract as every valueRanks site).
    val cap = 1 << 22
    val offsets = EventStats.rankMemo(
      (spark, keyed.queryExecution.analyzed.canonicalized: Any,
        "ccnet-tercile-offsets", RankBinWidth)) {
      val counts = keyed.groupBy("lang", "bin")
        .agg(count(lit(1)).as("bin_n"),
          min(col("doc_id").cast("long")).as("min_id"),
          max(col("doc_id").cast("long")).as("max_id"))
        .limit(cap + 1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      require(counts.length <= cap,
        s"langTerciles: over $cap (lang,bin) cells exceeds the broadcastable-frame " +
        s"contract; raise RankBinWidth=$RankBinWidth toward valueRange/2^20")
      val rows = counts.groupBy(_._1).toSeq.flatMap { case (_, cells) =>
        val sorted = cells.sortBy(_._2) // by bin: the window's ORDER BY
        val nLang = sorted.map(_._3).sum
        var off = 0L
        sorted.map { case (lang, bin, binN, minId, maxId) =>
          val binOff = off; off += binN
          // integer div on non-negative operands == SQL `div`
          (lang, bin, binN, minId, maxId, binOff, nLang,
            binOff * 3 / nLang + 1, (binOff + binN - 1) * 3 / nLang + 1)
        }
      }
      import spark.implicits._
      rows.toDF("lang", "bin", "bin_n", "min_id", "max_id",
        "bin_off", "n_lang", "b_lo", "b_hi")
    }
    val annotated = keyed.join(broadcast(offsets), Seq("lang", "bin"))
    val outCols = (perdoc.columns :+ "bucket").map(col)
    val uniform = annotated.where(col("b_lo") === col("b_hi"))
      .withColumn("bucket", col("b_lo"))
      .select(outCols: _*)
    val wLocal = Window.partitionBy("lang", "bin").orderBy(col("lkey"), col("doc_id"))
    val boundary = annotated
      .where(col("b_lo") =!= col("b_hi") && col("bin_n") <= boundaryCap)
      .withColumn("rk", col("bin_off") + row_number().over(wLocal))
      .withColumn("bucket", expr("(rk - 1) * 3 div n_lang + 1").cast("long"))
      .select(outCols: _*)
    // WHALE boundary bins: refine by (exact lkey, doc-id band). The
    // band is a doc-id RANGE (div by a width derived from the bin's
    // id span), so (lkey, band, doc_id) sorts lexicographically
    // identical to (lkey, doc_id) — rank composition stays exact.
    val whale = annotated
      .where(col("b_lo") =!= col("b_hi") && col("bin_n") > boundaryCap)
      .withColumn("band",
        expr(s"(doc_id - min_id) div ((max_id - min_id) div $BandCount + 1)"))
    val wSubOff = Window.partitionBy("lang", "bin").orderBy("lkey", "band")
      .rowsBetween(Window.unboundedPreceding, -1)
    // second offset frame: distinct (lkey, band) only — ≤ RankBinWidth
    // × BandCount rows per whale bin, and only for the ≤2 boundary
    // bins per language. Not forced broadcast: the join key is the
    // fine (lang,bin,lkey,band), so even the shuffle form distributes
    // the whale bin across all bands; AQE broadcasts when small.
    val suboff = whale.groupBy("lang", "bin", "lkey", "band")
      .agg(count(lit(1)).as("sub_n"))
      .withColumn("sub_off", coalesce(sum("sub_n").over(wSubOff), lit(0L)))
      .select("lang", "bin", "lkey", "band", "sub_off")
    val wBand = Window.partitionBy("lang", "bin", "lkey", "band").orderBy("doc_id")
    val whaleRanked = whale.join(suboff, Seq("lang", "bin", "lkey", "band"))
      .withColumn("rk", col("bin_off") + col("sub_off") + row_number().over(wBand))
      .withColumn("bucket", expr("(rk - 1) * 3 div n_lang + 1").cast("long"))
      .select(outCols: _*)
    uniform.unionByName(boundary).unionByName(whaleRanked)
  }

  /** CCNet head/middle/tail terciles per language over the bigram-LM
    * doc log-probability ([[TextOps.perplexity]]'s frame — reused, so
    * the rounded `avg_logp` both engines agree on is also the tercile
    * sort key; doc_id breaks ties deterministically). Emits per
    * (lang, bucket): doc count and the rounded logp range. */
  val ccnetBuckets: GraftQuery = GraftQuery.checked("ns_text_ccnet_buckets",
    // tokenization matches ns_text_perplexity's (non-empty \s+ runs —
    // the shared frame's kernel contract)
    """WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)),
               i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
      FROM toks WHERE len(t) >= 2),
    bgf AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM bg),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgf GROUP BY w1, w2),
    cnt1 AS (SELECT w1, SUM(c2) AS c1 FROM cnt2 GROUP BY w1),
    model AS (
      SELECT w1, w2, ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE)) AS logp
      FROM cnt2 JOIN cnt1 USING (w1)),
    perdoc AS (
      SELECT b.doc_id, b.lang, ROUND(AVG(m.logp), 4) AS avg_logp
      FROM bgf b JOIN model m USING (w1, w2)
      GROUP BY b.doc_id, b.lang),
    bucketed AS (
      SELECT lang, doc_id, avg_logp,
             NTILE(3) OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS bucket
      FROM perdoc)
    SELECT lang, bucket, COUNT(*) AS n_docs,
           MIN(avg_logp) AS lo_logp, MAX(avg_logp) AS hi_logp
    FROM bucketed GROUP BY lang, bucket
    ORDER BY lang, bucket""") { (spark, dir) =>
    val perdoc = TextOps.perplexityFrame(spark, dir) // (doc_id, lang, n_bigrams, avg_logp), memoized
    langTerciles(perdoc)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("avg_logp").as("lo_logp"), max("avg_logp").as("hi_logp"))
      .orderBy("lang", "bucket")
  }

  /** The NTILE window formulation — the oracle-mirroring reference
    * twin [[langTerciles]] is spec-pinned equal to (the
    * `ns_vec_topk_window` pattern). NEVER the registered path: one
    * language = one reducer partition sorting that language's whole
    * corpus. */
  private[graft] def langTercilesWindow(perdoc: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("avg_logp").desc, col("doc_id"))
    perdoc.withColumn("bucket", ntile(3).over(w).cast("long")) // NTILE is BIGINT in DuckDB
  }

  /** Hashed-feature count per (doc, bucket-id): word bigrams hashed
    * into B=256 buckets via the first md5 byte — md5 is the repo's
    * cross-engine-portable hash (both engines agree on every bucket
    * id, unlike their native `hash()` functions). */
  private val B = 256

  /** (doc_id, lang, f) — one hashed bucket id per bigram occurrence.
    * Explode + scalar md5/conv stays inside whole-stage codegen. Used
    * by the MODEL pass, which genuinely needs the flat occurrence
    * stream for its feature-keyed aggregate. (The r7 note here — that
    * the array-HOF formulation measured 3× slower — held for plans
    * that still SHUFFLED the per-doc arrays; the r8 probe shows that
    * for pure row-local SCORING the HOF form wins 0.70× by moving zero
    * rows, interpreted evaluation and all. Both measurements stand:
    * HOFs lose inside exchange-bearing plans, win in map-only ones.) */
  // key columns are a parameter (r10 review #4: sourceDrift carried a
  // token-for-token copy keyed by source — the B=256 first-md5-byte
  // feature definition must live ONCE or the dsir and drift feature
  // spaces can silently diverge). r16: the definition now lives in
  // [[bigramFs]] (the per-doc bucket-id ARRAY — row-local, the
  // registered scorer's shape) and the flat occurrence stream is its
  // explode, so the array and stream forms cannot diverge either.
  private def bigramFs(docs: DataFrame, keys: Seq[String]): DataFrame =
    docs.select(keys.map(col) :+ split(col("text"), " ").as("t"): _*)
      .where(size(col("t")) >= 2)
      .select(keys.map(col) :+ expr(
        """transform(
             transform(sequence(1, size(t)-1),
               i -> concat(element_at(t, i), ' ', element_at(t, i+1))),
             g -> CAST(conv(substring(md5(g), 1, 2), 16, 10) AS INT))""").as("fs"): _*)

  private def bigramBuckets(docs: DataFrame,
      keys: Seq[String] = Seq("doc_id", "lang")): DataFrame =
    bigramFs(docs, keys)
      .select(keys.map(col) :+ explode(col("fs")).as("f"): _*)

  /** The (doc_id, lang, source, fs) hashed-bigram plane under `dir`,
    * OpMemo'd (r15 verdict next-round #6: dsir and source_drift each
    * re-ran the split+md5+conv chain over the whole corpus TWICE per
    * run — model pass and score pass — for a stateless projection
    * shared by both operators; the warm pass now pays it once with
    * `memo_paid`/`warm_runs` attribution, the same convention as the
    * perceptron doc-vector and perplexity frames. The MODELS are still
    * built per run — only the tokenize+hash projection is shared). */
  private[graft] def bigramArrays(spark: SparkSession, dir: String): DataFrame =
    OpMemo.cached(spark, dir, "text:bigram-fs") {
      bigramFs(Tables.documents(spark, dir), Seq("doc_id", "lang", "source"))
    }

  /** DSIR importance scores, target = the English slice (the stand-in
    * for "looks like my high-quality target set"), features = hashed
    * bigrams. Per bucket f:
    *   w(f) = ln((ct+1)/(Ctot+B)) − ln((cr+1)/(Rtot+B))
    * quantized to micro-units as ONE expression (`FLOOR(Σln · 1e6)`,
    * the repo's exact-integer pattern — per-doc sums are then BIGINT
    * and hash-exact across engines). Emits the top-100 selection by
    * (score DESC, doc_id).
    *
    * Plan: one explode pass → ONE B-bounded aggregate (map-side
    * partial, 256 rows to the driver) → model as a constant-folded
    * array literal → join-free per-doc sum via the ROWWISE scorer
    * (r8: the aggregate-HOF row map scores without exploding, so the
    * scoring phase moves zero corpus rows — measured 0.70× the
    * explode+exchange form at sf0.1 despite HOFs evaluating
    * interpreted; equality is spec-pinned). Nothing in the plan grows
    * with corpus size except the scan. */
  val dsir: GraftQuery = GraftQuery.checked("ns_text_dsir",
    s"""WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2),
    fb AS (
      SELECT doc_id, lang,
             (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS f
      FROM bg),
    tgt AS (SELECT f, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY f),
    raw AS (SELECT f, COUNT(*) AS cr FROM fb GROUP BY f),
    tot AS (SELECT CAST((SELECT COUNT(*) FROM fb WHERE lang = 'en') AS BIGINT) AS ctot,
                   CAST((SELECT COUNT(*) FROM fb) AS BIGINT) AS rtot),
    model AS (
      SELECT raw.f,
             CAST(FLOOR((ln(COALESCE(tgt.ct, 0) + 1.0) - ln(tot.ctot + $B.0)
                       - ln(raw.cr + 1.0) + ln(tot.rtot + $B.0)) * 1000000) AS BIGINT) AS w_micro
      FROM raw LEFT JOIN tgt USING (f) CROSS JOIN tot),
    scored AS (
      SELECT fb.doc_id, fb.lang, COUNT(*) AS n_bigrams,
             CAST(SUM(m.w_micro) AS BIGINT) AS score_micro
      FROM fb JOIN model m USING (f)
      GROUP BY fb.doc_id, fb.lang)
    SELECT doc_id, lang, n_bigrams, score_micro
    FROM scored
    ORDER BY score_micro DESC, doc_id
    LIMIT 100""") { (spark, dir) =>
    // model AND score passes ride the shared memoized bigram plane —
    // the model is still built per run (one 256-group aggregate +
    // model-sized collect); only the stateless tokenize+hash
    // projection is shared (r15 verdict next-round #6)
    val fs = bigramArrays(spark, dir)
    dsirScoreOnFs(fs, dsirModelOnFs(fs))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(100)
  }

  /** ONE model-building pass: target and raw counts share the same
    * 256-key aggregate (map-side combined), collected to the driver
    * (B rows — model-sized by construction). The first formulation
    * built tgt/raw/totals as three separate plans and scanned the
    * exploded bigram stream four times (benched 1.49 s vs DuckDB 0.37
    * at sf0.1); this one scans once for the model, once for scoring. */
  def dsirModel(docs: DataFrame): Map[Int, Long] =
    dsirModelOnFs(bigramFs(docs, Seq("doc_id", "lang")))

  /** [[dsirModel]] over a prebuilt (…, lang, fs) bigram plane. */
  def dsirModelOnFs(fs: DataFrame): Map[Int, Long] = {
    val spark = fs.sparkSession
    import spark.implicits._
    val counts = fs.select(col("lang"), explode(col("fs")).as("f"))
      .groupBy("f").agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val rtot = counts.map(_._2).sum // exact integer totals, driver-side
    val ctot = counts.map(_._3).sum
    // The ln→floor quantization goes through the SHARED
    // ExactMath.microLnRatio expression (r9 verdict wrong #3, closing
    // the same class the r8 advice flagged for ns_text_source_drift):
    // one implementation of the four-ln chain for every scorer, so a
    // divergence can only live between the two ENGINES' libms inside
    // one floor — never between two of our own call sites. Evaluated
    // as a local 256-row job (the collected model frame re-lifted; no
    // corpus rescan, model-sized driver traffic only).
    counts.toSeq.toDF("f", "cr", "ct")
      .select(col("f"), graft.functions.ExactMath.microLnRatio(
        col("ct") + 1L, lit(ctot + B.toLong),
        col("cr") + 1L, lit(rtot + B.toLong)).as("w_micro"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** The model as a constant-folded ARRAY literal indexed by bucket
    * id — O(1) per bigram (a literal MAP's element_at is a linear scan
    * of all B entries per lookup, measured 4×). */
  private def modelArray(model: Map[Int, Long]) =
    array(Array.tabulate(B)(f => lit(model.getOrElse(f, 0L))).toIndexedSeq: _*)

  /** BATCH scorer: explode + codegen'd scalar ops end to end; the
    * per-doc sum partial-aggregates map-side, so the only corpus-wide
    * data movement is the doc-keyed exchange of partials. */
  def dsirScore(docs: DataFrame, model: Map[Int, Long]): DataFrame = {
    val wArr = modelArray(model)
    bigramBuckets(docs)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(element_at(wArr, col("f") + 1)).as("score_micro"))
  }

  /** STREAMING/registered scorer: the model applied as a STATELESS
    * per-row map — the per-doc sum is an `aggregate` HOF over the
    * bigram array, so no grouping state exists and the scorer drops
    * into any `readStream` unchanged (watermarks, triggers and sinks
    * are the caller's). HOFs evaluate interpreted (outside codegen),
    * but moving ZERO rows beats the explode + doc-keyed exchange the
    * batch form pays: measured 0.70× at sf0.1 (BASELINE.md "Round 8 —
    * rewrite receipts"),
    * which is why r8 made this the registered `ns_text_dsir` scoring
    * path too. Equality of the two scorers is spec-pinned. */
  def dsirScoreRowwise(docs: DataFrame, model: Map[Int, Long]): DataFrame =
    dsirScoreOnFs(bigramFs(docs, Seq("doc_id", "lang")), model)

  /** [[dsirScoreRowwise]] over a prebuilt (doc_id, lang, fs) plane. */
  def dsirScoreOnFs(fs: DataFrame, model: Map[Int, Long]): DataFrame = {
    val wArr = modelArray(model)
    fs.select(col("doc_id"), col("lang"),
        size(col("fs")).cast("long").as("n_bigrams"),
        aggregate(col("fs"), lit(0L),
          (acc, f) => acc + element_at(wArr, f + 1)).as("score_micro"))
  }

  /** Per-source DISTRIBUTION DRIFT — smoothed KL divergence of each
    * source's hashed-bigram distribution from the corpus mixture (the
    * text-side sibling of `ns_events_psi`): the mixture-monitoring
    * number a training-data pipeline watches per ingest source — a
    * source whose KL jumps changed its content distribution (scraper
    * drift, spam influx, template change) before any downstream metric
    * moves. Laplace-smoothed over the fixed B=256 bucket space so
    * every term is defined; KL ≥ 0 with equality iff the source
    * matches the mixture.
    *
    * Exact-integer contract (r9, closing the r8 advice): the ln chain
    * quantizes FIRST through the shared
    * [[graft.functions.ExactMath.microLnRatio]] — `Lm = FLOOR(1e6 ·
    * (ln(c_sf+1) − ln(N_s+B) − ln(c_f+1) + ln(N+B)))` — and the
    * probability weight is then applied as PURE INTEGER arithmetic,
    * `t = ((c_sf+1) · Lm) div (N_s+B)` (Spark `div` and DuckDB `//`
    * both truncate toward zero). The former form multiplied the float
    * p_sf into the chain before its floor, widening the cross-libm
    * boundary-flip surface to every term; now the only float boundary
    * is the one FLOOR inside the shared quantizer. The per-source sum
    * is a BIGINT of 256 integers, immune to accumulation order.
    * (|Lm| ≤ ~6e7 and c_sf+1 ≤ N_s, so the intermediate product stays
    * far inside BIGINT even at 100 TB bucket counts.)
    *
    * Scale shape: ONE corpus pass (explode + two bounded aggregates:
    * sources×B and B keys, map-side partials), then all arithmetic on
    * the model-sized grid. Nothing grows with the corpus but the scan. */
  val sourceDrift: GraftQuery = GraftQuery.checked("ns_text_source_drift",
    """WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents),
    fb AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS f
      FROM (SELECT source,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
            FROM toks WHERE len(t) >= 2)),
    sc AS (SELECT source, f, COUNT(*) AS c FROM fb GROUP BY 1, 2),
    ns AS (SELECT source, COUNT(*) AS n FROM fb GROUP BY 1),
    cf AS (SELECT f, COUNT(*) AS c FROM fb GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n FROM fb),
    grid AS (SELECT s.source, CAST(t.i AS BIGINT) - 1 AS f
             FROM (SELECT DISTINCT source FROM fb) s CROSS JOIN range(1, 257) t(i)),
    terms AS (
      SELECT g.source, ns.n,
             ((COALESCE(sc.c, 0) + 1) *
              CAST(FLOOR(1000000.0 *
                   (ln(COALESCE(sc.c, 0) + 1.0) - ln(ns.n + 256.0)
                    - ln(COALESCE(cf.c, 0) + 1.0) + ln(nt.n + 256.0))) AS BIGINT))
             // (ns.n + 256) AS t
      FROM grid g
      LEFT JOIN sc ON sc.source = g.source AND sc.f = g.f
      LEFT JOIN cf ON cf.f = g.f
      JOIN ns ON ns.source = g.source
      CROSS JOIN nt)
    SELECT source, CAST(n AS BIGINT) AS n_bigrams, CAST(SUM(t) AS BIGINT) AS kl_micro
    FROM terms GROUP BY source, n
    ORDER BY source""") { (spark, dir) =>
    // rides the shared memoized bigram plane (see [[bigramArrays]]);
    // the sc model aggregate + localize below still run per run
    val occ = bigramArrays(spark, dir)
      .select(col("source"), explode(col("fs")).as("fi"))
      .select(col("source"), col("fi").cast("long").as("f"))
    // ONE corpus pass: aggregate to the (sources × 256)-bounded sc
    // frame, LOCALIZE it (KB-sized model state), and derive every
    // other statistic from the local copy — the first formulation
    // re-scanned the exploded corpus for each of ns/cf/nt (r8 review
    // round 2: four scans on an operator documented as one-pass)
    import spark.implicits._
    val scRows = occ.groupBy("source", "f").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sc = scRows.toSeq.toDF("source", "f", "c")
    val nsF = sc.groupBy("source").agg(sum("c").as("n"))
    val cfF = sc.groupBy("f").agg(sum("c").as("cf"))
    val nt = scRows.map(_._3).sum
    val grid = nsF.select("source")
      .crossJoin(spark.range(0, 256).select(col("id").as("f")))
    grid
      .join(sc, Seq("source", "f"), "left")
      .join(broadcast(cfF), Seq("f"), "left")
      .join(broadcast(nsF), Seq("source"))
      .select(col("source"), col("n"),
        ((coalesce(col("c"), lit(0L)) + lit(1L)) *
          graft.functions.ExactMath.microLnRatio(
            coalesce(col("c"), lit(0L)) + 1, col("n") + lit(256L),
            coalesce(col("cf"), lit(0L)) + 1, lit(nt + 256L))).as("num"))
      .withColumn("t", expr("num div (n + 256)"))
      .drop("num")
      .groupBy("source", "n")
      .agg(sum("t").as("kl_micro"))
      .select(col("source"), col("n").as("n_bigrams"), col("kl_micro"))
      .orderBy("source")
  }

  // NOTE (r12 second pass): a "leakage-safe split" operator was briefly
  // added here before the session's own duplicate-check found the r8
  // original — `ns_dedup_split_leakfree` (Dedup.leakFreeSplit) already
  // assigns train/val/test by md5 of the near-dup cluster
  // representative. The duplicate was removed the same day; its one
  // genuine addition — a per-PAIR straddle-free spec — now pins the
  // ORIGINAL operator (SelectionMiningSpec, via Dedup.splitAssignments).

  val all: Seq[GraftQuery] = Seq(ccnetBuckets, dsir, sourceDrift)
}
