package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** The end-to-end corpus-curation pipeline (north-star capstone): the
  * sequence every training-data ingest runs —
  *
  *   quality gate → PII redaction → content fingerprint → exact dedup
  *
  * — expressed ONCE as a composable column pipeline and reused by both
  * the batch query (`ns_curation`, oracle-checked) and a streaming
  * ingest (`readStream` + `dropDuplicatesWithinWatermark`, spec'd
  * equivalent to the batch keep-first semantics). Every stage is
  * codegen'd column algebra that pipelines into the scan; the only shuffle is the dedup (hash on
  * fingerprint), so at 100 TB the pipeline is one pass + one
  * fingerprint-partitioned exchange.
  */
object Curation {

  val MinTokens = 5

  /** CANONICAL email pattern + redaction + whitespace-normalized
    * fingerprint — TextOps.redact, Dedup.incrementalDedup and the
    * curation stages all key off these, and the three surfaces must
    * stay byte-identical for "verbatim duplicate" to mean one thing
    * (r7 review: the expressions were triplicated). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"

  def redacted(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), "[0-9]+", "<NUM>")

  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Stages shared verbatim by batch and streaming: filter short docs,
    * redact, fingerprint. (Dedup differs: batch keeps min doc_id per
    * fingerprint; streaming keeps first-seen within the watermark.) */
  def prepare(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .where(col("n_tokens") >= MinTokens)
      .withColumn("text", redacted(col("text")))
      .withColumn("fp", fingerprint(col("text")))

  /** Batch curation: prepare + keep the smallest doc_id per fingerprint. */
  def curate(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    prepare(docs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "lang", "n_tokens", "fp")
  }

  val curation: GraftQuery = GraftQuery.checked("ns_curation",
    """WITH base AS (
      SELECT doc_id, lang,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               '[0-9]+', '<NUM>', 'g') AS rtext,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      FROM documents),
    prepared AS (
      SELECT doc_id, lang, n_tokens,
             md5(lower(regexp_replace(rtext, '\s+', ' ', 'g'))) AS fp
      FROM base WHERE n_tokens >= 5),
    deduped AS (
      SELECT doc_id, lang, n_tokens, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM prepared)
    SELECT doc_id, lang, n_tokens, fp FROM deduped WHERE rn = 1
    ORDER BY doc_id""") { (spark, dir) =>
    curate(Tables.documents(spark, dir)).orderBy("doc_id")
  }

  /** Round-4 capstone: the FULL training-corpus assembly funnel as one
    * declarative plan —
    *
    *   raw corpus → quality gate → near-dup dedup → eval decontamination
    *
    * reported as a per-language survival funnel (with the post-funnel
    * token budget — the number a training run actually plans against).
    * Probe docs (ids ≡ 0 mod 10) are the held-out eval suite: they are
    * excluded from the corpus entirely, their 8-grams define the
    * contamination test, and any corpus doc sharing one is dropped.
    *
    * Composition, not recomputation: the near-dup dropped set reuses
    * the memoized cluster labels (`ns_dedup_cluster`), the gram frame
    * reuses the decontamination docs memo, and the quality predicate is
    * the same column [[TextOps.qualityKeep]] the filter query uses —
    * at 100 TB each piece keeps exactly the plan shape its own query
    * pinned (codegen quality map, banded candidate joins, scan-side
    * Bloom + broadcast gram join), and the funnel adds two model-sized
    * left joins plus one final aggregate. */
  /** Corpus doc ids sharing ≥ 1 hashed 8-gram with the eval (probe)
    * set, over an injected `(doc_id, sh)` frame (probe split: ids ≡ 0
    * mod 10) — the funnel's contamination stage. Scaling numbers:
    * BASELINE.md "Round 4", round-4 weak-scaling table.
    *
    * Same Bloom-prefilter shape as `ns_dedup_decontam_bloom` (round-4
    * verdict #4): the probe side's distinct gram hashes are collected
    * ONCE (eval-suite-sized, bounded by design), feed the scan-side
    * Bloom literal that kills non-candidate corpus grams inside the map
    * stage, and double as a broadcast-able exact join target — so the
    * corpus-sized gram exchange of the naive shape (explode + shuffle
    * join on every corpus gram) disappears entirely, and Bloom false
    * positives die in the exact broadcast join: lossless. */
  private[graft] def contaminatedIdsCore(spark: org.apache.spark.sql.SparkSession,
                                         sh: DataFrame): DataFrame = {
    import spark.implicits._
    val probeHashes = Dedup.probeGramHashes(sh.where(col("doc_id") % 10 === 0))
    val mightContain = Dedup.gramBloomPredicate(probeHashes)
    val probeGrams = broadcast(probeHashes.toSeq.toDF("g"))
    sh.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .where(mightContain(col("g")))
      .join(probeGrams, "g")
      .select("doc_id").distinct()
  }

  def pipelineFunnel(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // near-dup non-survivors over the full corpus (memoized labels)
    val dropped = Dedup.dedupClusters(spark, dir)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    // corpus docs sharing >= 1 hashed 8-gram with the eval (probe) set
    val contaminated = contaminatedIdsCore(spark, Dedup.decontamDocs(spark, dir, 8))
      .withColumn("is_contam", lit(true))
    val pass = graft.operators.TextOps.qualityKeep(col("text"), col("n_chars"))
    val clean = col("q") && col("is_dup").isNull && col("is_contam").isNull
    docs.where(col("doc_id") % 10 =!= 0)
      .withColumn("q", pass)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .join(dropped, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("q") && col("is_dup").isNull, 1L).otherwise(0L)).as("n_dedup"),
        sum(when(clean, 1L).otherwise(0L)).as("n_clean"),
        sum(when(clean, col("n_tokens")).otherwise(0L)).as("tokens_clean"))
      .orderBy("lang")
  }

  val funnel: GraftQuery = GraftQuery.checked("ns_pipeline_funnel",
    """WITH RECURSIVE docs3 AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs3 a JOIN docs3 b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    dropped AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a),
    docs8 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS sh
      FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 8),
    probe_grams AS (
      SELECT DISTINCT unnest(sh) AS g FROM docs8 WHERE doc_id % 10 = 0),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(sh) AS g FROM docs8 WHERE doc_id % 10 <> 0) c
      JOIN probe_grams USING (g)),
    qual AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (len(toks) >= 40
              AND (CAST(n_chars AS DOUBLE) - len(toks) + 1) / len(toks) >= 3.0
              AND (CAST(n_chars AS DOUBLE) - len(toks) + 1) / len(toks) <= 10.0
              AND CAST(len(list_filter(toks, w -> w IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE)
                    / len(toks) >= 0.01
              AND (CASE WHEN len(toks) > 2
                        THEN 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE) / (len(toks) - 2)
                        ELSE 1.0 END) <= 0.2) AS q
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS toks
            FROM documents)
      WHERE doc_id % 10 <> 0)
    SELECT lang,
           COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM dropped)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM dropped)
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM dropped)
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                    THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_clean
    FROM qual
    GROUP BY lang ORDER BY lang""")((s, d) => pipelineFunnel(s, d))

  /** Funnel v2 — the round-5 capstone: the same assembly funnel with a
    * VERBATIM-duplication stage between quality and near-dup (docs that
    * are ≥50% verbatim-duplicated text anywhere in the corpus are
    * dropped whole — the removal rule `ns_dedup_gram_frac` exists for;
    * near-dup clustering then only pays for what survives). Every stage
    * reuses a memoized frame (`dupPositions`, cluster labels, decontam
    * grams), so the marginal cost of the capstone over its parts is one
    * scan + the stage joins — and each stage is independently
    * oracle-checked by its own query.
    *
    * Stage ORDER is the point: verbatim removal is count-and-join
    * (linear, skew-proof), so it runs before the pair-based near-dup
    * stage and shrinks that stage's candidate set. On these fixtures
    * the clones are verbatim copies, so the verbatim stage subsumes the
    * near-dup and contamination drops (their columns repeat
    * n_verbatim); on real corpora the stages are complementary
    * (paraphrased near-dups and partial contamination survive verbatim
    * filtering) — funnel v1 keeps the non-vacuous per-stage
    * demonstration. */
  def pipelineFunnelVerbatim(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val verbatim = Dedup.gramDupFraction(spark, dir)
      .where(col("dup_frac") >= 0.5)
      .select(col("doc_id"), lit(true).as("is_verb"))
    val dropped = Dedup.dedupClusters(spark, dir)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    val contaminated = contaminatedIdsCore(spark, Dedup.decontamDocs(spark, dir, 8))
      .withColumn("is_contam", lit(true))
    val pass = graft.operators.TextOps.qualityKeep(col("text"), col("n_chars"))
    val afterVerb = col("q") && col("is_verb").isNull
    val afterDedup = afterVerb && col("is_dup").isNull
    val clean = afterDedup && col("is_contam").isNull
    docs.where(col("doc_id") % 10 =!= 0)
      .withColumn("q", pass)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .join(verbatim, Seq("doc_id"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(afterVerb, 1L).otherwise(0L)).as("n_verbatim"),
        sum(when(afterDedup, 1L).otherwise(0L)).as("n_dedup"),
        sum(when(clean, 1L).otherwise(0L)).as("n_clean"),
        sum(when(clean, col("n_tokens")).otherwise(0L)).as("tokens_clean"))
      .orderBy("lang")
  }

  val funnel2: GraftQuery = GraftQuery.checked("ns_pipeline_funnel2",
    """WITH RECURSIVE docs3 AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs3 a JOIN docs3 b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    dropped AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a),
    docs8 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS sh
      FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 8),
    probe_grams AS (
      SELECT DISTINCT unnest(sh) AS g FROM docs8 WHERE doc_id % 10 = 0),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(sh) AS g FROM docs8 WHERE doc_id % 10 <> 0) c
      JOIN probe_grams USING (g)),
    tpos AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
      FROM documents),
    gposf AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS g
      FROM tpos WHERE len(t) >= 8),
    gcnt AS (SELECT g, COUNT(*) AS occ FROM gposf GROUP BY g),
    gdup AS (SELECT doc_id, COUNT(*) AS dup_cnt
             FROM gposf JOIN gcnt USING (g) WHERE occ >= 2 GROUP BY doc_id),
    gtot AS (SELECT doc_id, len(t) - 7 AS n_grams FROM tpos WHERE len(t) >= 8),
    verb AS (
      SELECT gtot.doc_id FROM gtot LEFT JOIN gdup ON gtot.doc_id = gdup.doc_id
      WHERE ROUND(CAST(COALESCE(gdup.dup_cnt, 0) AS DOUBLE) / gtot.n_grams, 4) >= 0.5),
    qual AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (len(toks) >= 40
              AND (CAST(n_chars AS DOUBLE) - len(toks) + 1) / len(toks) >= 3.0
              AND (CAST(n_chars AS DOUBLE) - len(toks) + 1) / len(toks) <= 10.0
              AND CAST(len(list_filter(toks, w -> w IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE)
                    / len(toks) >= 0.01
              AND (CASE WHEN len(toks) > 2
                        THEN 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE) / (len(toks) - 2)
                        ELSE 1.0 END) <= 0.2) AS q
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS toks
            FROM documents)
      WHERE doc_id % 10 <> 0)
    SELECT lang,
           COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM verb)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_verbatim,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM verb)
                     AND doc_id NOT IN (SELECT doc_id FROM dropped)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM verb)
                     AND doc_id NOT IN (SELECT doc_id FROM dropped)
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN q AND doc_id NOT IN (SELECT doc_id FROM verb)
                     AND doc_id NOT IN (SELECT doc_id FROM dropped)
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                    THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_clean
    FROM qual
    GROUP BY lang ORDER BY lang""")((s, d) => pipelineFunnelVerbatim(s, d))

  val all: Seq[GraftQuery] = Seq(curation, funnel, funnel2)
}
