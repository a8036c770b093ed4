package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.dround
import graft.functions.VectorExpressions.jaccardSorted
import graft.functions.TextExpressions.{shingleHashes, tokenHashes}
import graft.sources.Tables

/** Deduplication operators for training-data pipelines (north-star
  * extension): exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design (the point of these ops is the 100 TB path):
  *  - Shingles are HASHED to longs once per document (one native
  *    pass, [[graft.functions.ShingleHashesExpr]]); every downstream
  *    op (minhash perms, Jaccard intersections) works on long arrays,
  *    never re-touching strings.
  *  - Signatures (minhash vectors, simhash bits) are computed whole-
  *    document in ONE native pass over the hashed arrays
  *    ([[graft.functions.MinHashSigExpr]]/[[graft.functions.SimHashExpr]])
  *    — a pure map stage with zero row inflation and zero shuffle (the
  *    earlier explode + 64-aggregate formulation is kept only as the
  *    equivalence reference).
  *  - Candidate generation is always an equi-join on a pruned key —
  *    LSH band buckets for minhash/simhash, Jaccard prefix tokens
  *    (PPJoin prefix filter, lossless) for the blocked exact path —
  *    never the O(n²) cross product.
  *  - Exact verification (Jaccard / Hamming) runs only on candidate
  *    pairs.
  */
object Dedup {

  // --- deterministic hash-family parameters (fixed LCG; formula
  //     h_i(x) = (a_i·x + b_i) mod p, p prime > 2^32; a,b < 2^30 keeps
  //     the product within Long range after x is reduced mod p) ---------
  private[graft] val P = 4294967311L // prime > 2^32
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
  private def coeffs(seed: Long, k: Int): Seq[Long] =
    lcg(seed).map(s => ((s >>> 34) % ((1L << 30) - 1)) + 1).take(k).toSeq

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4
  private[graft] val as = coeffs(42L, NumHashes)
  private[graft] val bs = coeffs(4242L, NumHashes)

  /** Word w-shingles of a text column (distinct, as strings). Documents
    * with fewer than w tokens yield an empty array — without the guard,
    * `sequence(0, size-w)` produces a DESCENDING sequence and slice()
    * is then called with start 0, which Spark rejects (ADVICE r1). */
  def shingles(text: Column, w: Int): Column = {
    // NON-EMPTY tokens only: the hashed kernel skips whitespace runs,
    // and the soundness companions compare this string path against it
    // — an unfiltered leading "" token garbles every window and makes
    // the _sound checks emit false violations on general input (r7
    // review; sourceGrams/chunkFrame already filter). Codegen-safe form
    // (array_remove, not the interpreted filter HOF — r8).
    // No post-filter needed: tokens are non-empty, so `concat_ws` of a
    // w-token window is never "" — the former `filter(…, s => s =!= "")`
    // wrapper was a provable no-op that dragged this path into
    // interpreted eval (r8 verdict item 3).
    val toks = TextOps.tokensNonEmpty(text)
    when(size(toks) >= w,
      array_distinct(
        transform(sequence(lit(0), size(toks) - w),
          i => concat_ws(" ", slice(toks, i + 1, lit(w))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Shingle set hashed to sorted distinct longs in one native pass
    * ([[graft.functions.ShingleHashesExpr]]) — computed once, reused by
    * signatures and by the native merge-based Jaccard verify
    * ([[graft.functions.JaccardSortedLongs]]). */
  def hashedShingles(text: Column, w: Int): Column = shingleHashes(text, w)

  /** Memoized `.cache()` handles via the shared evicting [[OpMemo]]:
    * several dedup queries (and warm bench re-runs) share the shingled
    * frames. */
  private def memoCached(spark: SparkSession, dir: String, key: String)
                        (build: => DataFrame): DataFrame =
    OpMemo.cached(spark, dir, s"dedup:$key")(build)

  /** (doc_id, sh) with hashed 3-shingles, empty docs dropped; cached
    * (shared by the minhash + decontamination queries). */
  private def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    memoCached(spark, dir, "shingled") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), hashedShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
    }

  /** 64-element MinHash signature per document in ONE pass over the
    * hashed shingle array ([[graft.functions.MinHashSigExpr]]) — a pure
    * map stage, no explode, no shuffle. Output: (doc_id, sig). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchExpressions.minhashSig(col("sh"), as, bs, P).as("sig"))

  /** The original explode + 64-partial-min-aggregate formulation, kept
    * as the equivalence reference for [[minhashSignatures]] (same
    * hash family, same arithmetic — asserted bit-for-bit in the spec). */
  def minhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val exploded = docs.select(col("doc_id"), explode(col("sh")).as("h0"))
      .select(col("doc_id"), pmod(col("h0"), lit(P)).as("h"))
    val aggs = (0 until NumHashes).map(i =>
      min(pmod(col("h") * as(i) + bs(i), lit(P))).as(s"m$i"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The 16 band hashes of a signature column as one array expression
    * (used by [[minhashBands]]). */
  def bandHashArray(sig: Column): Column =
    array((0 until Bands).map { b =>
      xxhash64((0 until RowsPerBand).map(r =>
        element_at(sig, b * RowsPerBand + r + 1)): _*)
    }: _*)

  /** (doc_id, band_idx, band_hash) — 16 bands of 4 rows each, hashed
    * from the signature array. */
  def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bandHashArray(col("sig"))).as(Seq("band_idx", "band_hash")))

  /** Exact-duplicate groups, keyed on the first-5-word prefix (the
    * corpus has no byte-identical dups; a prefix key demonstrates the
    * same hash-groupBy plan and yields non-trivial groups). */
  val exactDups: GraftQuery = GraftQuery.checked("ns_dedup_exact",
    """SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS dup_key,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM documents GROUP BY dup_key HAVING COUNT(*) > 1 ORDER BY dup_key""") { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("dup_key"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      .where(col("n_docs") > 1)
      .orderBy("dup_key")
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    * hashed shingles → 64 minhashes → 16 bands → band-bucket self-join →
    * exact Jaccard ≥ threshold on candidates only (shingle arrays joined
    * back by doc_id, so the wide arrays never ride through the bands). */
  def minhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    memoCached(spark, dir, s"minhash-pairs-$threshold")(minhashPairsUncached(spark, dir, threshold))

  /** Uncached body of [[minhashPairs]] — the emitter is memoized because
    * the soundness query re-reads the emitted pairs in the same session
    * (emit + verify share one DAG, exactly as a production pipeline
    * would stage them). */
  private def minhashPairsUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val docs = shingledDocs(spark, dir)
    val bands = minhashBands(minhashSignatures(docs))
    val a = bands.toDF("doc_a", "band_idx", "band_hash")
    val b = bands.toDF("doc_b", "band_idx", "band_hash")
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    candidates
      .join(docs.toDF("doc_a", "sh_a"), "doc_a")
      .join(docs.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), dround(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** FULL-oracle registration (r12, was rows-only since r2): the DuckDB
    * side computes the TRUE pair set — string 3-shingle Jaccard ≥ 0.5
    * over all pairs, blocked by shared shingle — so the driver's hash
    * compare now measures LSH RECALL, not just soundness. This is green
    * because every planted near-dup pair sits far above the band
    * threshold (weakest fixture pair: Jaccard 0.889 at sf0.1 → per-pair
    * band-miss probability (1−j⁴)¹⁶ ≈ 1.5e-7, and the hash family is a
    * fixed deterministic LCG, so equality is a verified constant of the
    * fixture, checked at all three SFs). On a corpus with pairs near the
    * 0.5 threshold the emitter would legitimately miss some (the
    * documented LSH recall curve: P(candidate) = 1−(1−j⁴)¹⁶ ≈ 0.65 at
    * j=0.5) and this row would read as a hash mismatch — diagnose that
    * as this convention, not a regression (same guarded-impl vs
    * exhaustive-oracle convention as videoIncremental). The one-sided
    * `_sound` twin below stays: it checks value parity on emitted pairs
    * through an independent string-path evaluation. */
  val minhashNearDups: GraftQuery = GraftQuery.checked("ns_dedup_minhash",
    """WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s
      FROM toks WHERE len(tk) >= 3),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5
    ORDER BY doc_a, doc_b""")((s, d) => minhashPairs(s, d))

  /** Independent string-shingle Jaccard for the soundness oracles: the
    * HOF shingle builder + builtin set ops — a different tokenizer,
    * different shingle representation and different intersect algorithm
    * than the native hashed-longs merge the emitters use. */
  private def stringJaccard(textA: Column, textB: Column, w: Int): Column = {
    val sa = shingles(textA, w)
    val sb = shingles(textB, w)
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** One-sided SOUNDNESS check for [[minhashPairs]]: recall through the
    * 16-band LSH is probabilistic (rows-only above), but every emitted
    * pair must genuinely clear the Jaccard threshold. Re-derives the
    * similarity from raw text via [[stringJaccard]] and returns the
    * violations; the oracle is the empty set, so any unsound pair (or
    * any hashed-vs-string similarity divergence) breaks the hash
    * compare. */
  def minhashViolations(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    minhashPairs(spark, dir, threshold)
      .join(docs.toDF("doc_a", "text_a"), "doc_a")
      .join(docs.toDF("doc_b", "text_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        dround(stringJaccard(col("text_a"), col("text_b"), 3), 4).as("jaccard_check"))
      .where(col("jaccard_check") < threshold || col("jaccard_check") =!= col("jaccard") ||
        col("doc_a") >= col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  val minhashSound: GraftQuery = GraftQuery.checked("ns_dedup_minhash_sound",
    """SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard, CAST(NULL AS DOUBLE) AS jaccard_check
    WHERE 1 = 0""")((s, d) => minhashViolations(s, d))

  /** Cross-corpus near-duplicate detection — the DECONTAMINATION op: which
    * probe documents (an eval/benchmark set, or a new crawl) are near-dups
    * of the training corpus. Same banded-LSH shape as [[minhashPairs]],
    * but the band join is corpus×probe instead of a self-join, so the
    * probe side (typically tiny: an eval suite) broadcasts and the corpus
    * is touched in one pass — the way you sweep 100 TB of training data
    * against a fixed benchmark set. */
  def minhashPairsAcross(corpusDocs: DataFrame, probeDocs: DataFrame,
                         threshold: Double = 0.5): DataFrame = {
    val cb = minhashBands(minhashSignatures(corpusDocs))
      .toDF("corpus_id", "band_idx", "band_hash")
    val pb = minhashBands(minhashSignatures(probeDocs))
      .toDF("probe_id", "band_idx", "band_hash")
    // NO forced broadcast on the probe side (r10 review: decontamPairs
    // feeds a probe that is 10% of the corpus here, and a hinted
    // broadcast would be an unconditional OOM once that side outgrows
    // the driver — the "probe typically tiny" premise belongs to the
    // planner, not a hint). The join stays a (band_idx, band_hash)
    // equi-join; AQE broadcasts it size-based when it actually fits.
    val candidates = cb.join(pb, Seq("band_idx", "band_hash"))
      .select("probe_id", "corpus_id").distinct()
    candidates
      .join(probeDocs.toDF("probe_id", "sh_p"), "probe_id")
      .join(corpusDocs.toDF("corpus_id", "sh_c"), "corpus_id")
      .select(col("probe_id"), col("corpus_id"),
        jaccardSorted(col("sh_p"), col("sh_c")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("probe_id"), col("corpus_id"), dround(col("jaccard"), 4).as("jaccard"))
      .orderBy("probe_id", "corpus_id")
  }

  /** Decontamination query over the shared corpus: every 10th doc plays
    * the held-out benchmark set; the rest is the training corpus. */
  /** Shared emitter of the decontamination pair set (memoized: the
    * rows-only query and its soundness companion read the same frame).
    * `threshold` is part of the memo key AND threaded into candidate
    * generation — the old hardcoded 0.3 made decontamViolations'
    * threshold parameter audit the WRONG pair set for any other value
    * (r7 review). */
  private def decontamPairs(spark: SparkSession, dir: String,
                            threshold: Double = 0.3): DataFrame =
    memoCached(spark, dir, s"decontam-pairs-$threshold") {
      val docs = shingledDocs(spark, dir)
      val probe = docs.where(col("doc_id") % 10 === 0)
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      minhashPairsAcross(corpus, probe, threshold = threshold)
    }

  /** FULL-oracle registration (r12, was rows-only): the oracle computes
    * the TRUE contamination set — string 3-shingle Jaccard ≥ 0.3 over
    * every (probe ≡ 0 mod 10) × (corpus ≢ 0 mod 10) pair — so the
    * driver's compare measures cross-corpus LSH recall end-to-end. Green
    * by the same measured-margin convention as [[minhashNearDups]]: the
    * weakest fixture contamination pair carries Jaccard 0.889 (sf0.1;
    * 0.958 at sf0.01), per-pair band-miss probability ≈ 1.5e-7 under the
    * fixed hash family, equality verified at all three SFs. A corpus
    * with true pairs near 0.3 would legitimately diverge (LSH recall at
    * j=0.3 is ≈ 0.12) — convention, not regression. */
  val decontam: GraftQuery = GraftQuery.checked("ns_dedup_decontam",
    """WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s
      FROM toks WHERE len(tk) >= 3),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id, count(*) AS i
      FROM ex p JOIN ex c ON p.g = c.g AND p.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
      GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT probe_id, corpus_id,
           ROUND(CAST(i AS DOUBLE)/(sp.n + sc.n - i), 4) AS jaccard
    FROM inter JOIN sz sp ON sp.doc_id = probe_id JOIN sz sc ON sc.doc_id = corpus_id
    WHERE CAST(i AS DOUBLE)/(sp.n + sc.n - i) >= 0.3
    ORDER BY probe_id, corpus_id""")((s, d) => decontamPairs(s, d))

  /** Soundness check for [[decontam]], same construction as
    * [[minhashViolations]]: emitted (probe, corpus) contamination pairs
    * re-verified against the independent string-shingle Jaccard; oracle
    * is the empty violation set. Also pins the probe/corpus split rule
    * (probe ids ≡ 0 mod 10, corpus ids not). */
  def decontamViolations(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emitted = decontamPairs(spark, dir, threshold)
    emitted
      .join(docs.toDF("probe_id", "text_p"), "probe_id")
      .join(docs.toDF("corpus_id", "text_c"), "corpus_id")
      .select(col("probe_id"), col("corpus_id"), col("jaccard"),
        dround(stringJaccard(col("text_p"), col("text_c"), 3), 4).as("jaccard_check"))
      .where(col("jaccard_check") < threshold || col("jaccard_check") =!= col("jaccard") ||
        col("probe_id") % 10 =!= 0 || col("corpus_id") % 10 === 0)
      .orderBy("probe_id", "corpus_id")
  }

  val decontamSound: GraftQuery = GraftQuery.checked("ns_dedup_decontam_sound",
    """SELECT CAST(NULL AS BIGINT) AS probe_id, CAST(NULL AS BIGINT) AS corpus_id,
           CAST(NULL AS DOUBLE) AS jaccard, CAST(NULL AS DOUBLE) AS jaccard_check
    WHERE 1 = 0""")((s, d) => decontamViolations(s, d))

  /** 64-bit SimHash per document in ONE pass over the distinct token
    * hashes ([[graft.functions.SimHashExpr]]): bit j of each token's
    * hash votes ±1 on output bit j — a pure map stage, no explode, no
    * shuffle. Empty docs are dropped (parity with the aggregate
    * formulation, where no exploded row means no group). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenHashes(col("text")).as("th"))
      .where(size(col("th")) > 0)
      .select(col("doc_id"), graft.functions.SketchExpressions.simhashSig(col("th")).as("sig"))

  /** The original explode + 64-vote-sum aggregate formulation, kept as
    * the equivalence reference for [[simhashSignatures]]. */
  def simhashSignaturesAgg(spark: SparkSession, dir: String): DataFrame =
    simhashSignaturesAggOf(Tables.documents(spark, dir))

  /** [[simhashSignaturesAgg]] over an injected `(doc_id, text)` frame —
    * the soundness companion recomputes signatures only for docs that
    * appear in emitted pairs, so the verify pass scales with the OUTPUT
    * (pair set), not the corpus. */
  def simhashSignaturesAggOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokenHashes(col("text"))).as("h"))
    // branch-free vote sums (r15): the ±1 vote total over n tokens is
    // 2·ones_j − n, so bit j is set iff 2·Σ((h>>j)&1) > n — the same
    // 64-vote-sum aggregate algebra with the per-row per-bit CASE
    // branch replaced by two ALU ops, identical results including the
    // tie (vote sum 0 ⇔ 2·ones = n ⇒ bit clear on both forms)
    val ones = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1)).as(s"o$j"))
    val sig = (0 until 64).map(j =>
      when(col(s"o$j") * 2 > col("nt"), lit(1L << j)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    toks.groupBy("doc_id").agg(count(lit(1)).as("nt"), ones: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs: 4×16-bit band join (pigeonhole guarantees
    * recall for Hamming ≤ 3), exact Hamming via bit_count(xor).
    * 16-bit bands keep buckets sparse even on clustered corpora — the
    * 8-bit variant collided so heavily on the shared-vocabulary test
    * corpus that the candidate join exploded.
    *
    * EMIT-ONCE instead of dropDuplicates: a near-dup pair collides in
    * several of the 4 bands (a Hamming-0 pair in all of them), so the
    * raw candidate set carries each pair up to 4×. Both full signatures
    * already ride the joined row, so "is this the pair's FIRST
    * colliding band" is a pure codegen'd filter (∀ j < band_idx:
    * band_j(sig_a) ≠ band_j(sig_b)) — each pair survives exactly once
    * and the two dropDuplicates shuffles of the inflated pair set
    * disappear. (The minhash path cannot do this for free: its band
    * values are hashes of signature SLICES, so recomputing them would
    * mean carrying the 64-long signature through the band shuffle —
    * there the post-join `distinct` on bare (a, b) ids stays cheaper.) */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    // memoized: the soundness companion re-reads the emitted pairs in
    // the same session (emit + verify share one DAG, like minhash)
    memoCached(spark, dir, s"simhash-pairs-$maxHamming")(
      simhashPairsUncached(spark, dir, maxHamming))

  private def simhashPairsUncached(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    val sigs = simhashSignatures(spark, dir)
    def bandVal(sig: Column, j: Int): Column =
      shiftright(sig, j * 16).bitwiseAND(0xFFFF)
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(bandVal(col("sig"), _)): _*))
        .as(Seq("band_idx", "band_val")))
    val a = bands.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bands.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val firstCollision = (0 until 3).map { j =>
      (lit(j) >= col("band_idx")) ||
        (bandVal(col("sig_a"), j) =!= bandVal(col("sig_b"), j))
    }.reduce(_ && _)
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("doc_a") < col("doc_b") && firstCollision)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  val simhashNearDups: GraftQuery =
    GraftQuery.rowsOnly("ns_dedup_simhash")((s, d) => simhashPairs(s, d))

  /** SOUNDNESS check for [[simhashPairs]], closing the last emitter
    * family without a driver-visible oracle row (round-4 verdict #3):
    * recall through the 4-band pigeonhole is structural (any pair with
    * Hamming ≤ 3 shares an untouched 16-bit band), but every EMITTED
    * pair must (a) reproduce its Hamming distance through the
    * independent explode + 64-vote-sum aggregate formulation
    * ([[simhashSignaturesAgg]] — different plan, same hash family),
    * (b) respect the k-bound (≤ maxHamming), (c) be ordered/non-self
    * (doc_a < doc_b), and (d) be emitted exactly ONCE (the first-
    * colliding-band filter's whole job). Oracle = the empty violation
    * set, exactly like `ns_dedup_minhash_sound`. */
  def simhashViolations(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val emitted = simhashPairs(spark, dir, maxHamming)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_emits"), max("hamming").as("hamming"))
    // recompute through the independent aggregate plan, but only for
    // docs that appear in emitted pairs (left-semi before the explode):
    // the verify pass costs O(|pairs|), not a second corpus scan.
    // pairDocs is pair-set-sized — broadcast it so the corpus scan is
    // never exchanged/sorted for a sort-merge semi-join (r15: the
    // planner picked SMJ here, paying a corpus Exchange + Sort per run).
    // ADAPTIVE (r15, BASELINE.md "Round 15 — optimization round 1"):
    // on this corpus the emitted pairs touch 3458 of 5000 docs, and building + broadcasting the
    // distinct pair-doc set cost MORE (1.0 s + a slower probed scan:
    // 2.5 s) than recomputing signatures for the whole corpus (1.2 s).
    // A prune that prunes nothing is pure overhead (guide §1.1
    // first-principles), so the semi-join only applies when the pair
    // docs cover under half the corpus — the 100 TB regime, where
    // pairs ≪ corpus and the prune is the whole design. Both guard
    // counts are session memo scalars (warm pass pays them once); the
    // full-corpus sigs frame is a SUPERSET of the semi-joined one and
    // the pair join below is inner on doc_id, so the result set is
    // identical on either path.
    val pairDocs = emitted.select(col("doc_a").as("doc_id"))
      .unionByName(emitted.select(col("doc_b").as("doc_id"))).distinct()
    val nPairDocs = OpMemo.cachedLong(spark, dir,
      s"dedup:simhash-pairdocs-$maxHamming")(pairDocs.count())
    val nDocs = OpMemo.cachedLong(spark, dir, "dedup:ndocs")(
      Tables.documents(spark, dir).count())
    val sigSource =
      if (2L * nPairDocs >= nDocs) Tables.documents(spark, dir)
      else Tables.documents(spark, dir)
        .join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
    val sigs = simhashSignaturesAggOf(sigSource)
    // attach the recomputed signature to each pair ONCE: the former
    // `join(sigs as a) join(sigs as b)` shape planted the whole sigs
    // subtree (corpus scan + semi-join + explode + 64-vote aggregate)
    // TWICE in the plan — aliases differ, so ReuseExchange cannot
    // dedupe it (r15, measured: the sound row's task time was ~2× the
    // aggregate's real cost). Unpivoting the pair's endpoints and
    // regrouping keeps inner-join semantics (both sigs required) while
    // the expensive subtree appears exactly once.
    val sided = emitted.select(col("doc_a"), col("doc_b"), col("hamming"), col("n_emits"),
        explode(array(
          struct(lit(0).as("side"), col("doc_a").as("doc_id")),
          struct(lit(1).as("side"), col("doc_b").as("doc_id")))).as("e"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("n_emits"),
        col("e.side").as("side"), col("e.doc_id").as("doc_id"))
    sided.join(sigs, Seq("doc_id"))
      .groupBy("doc_a", "doc_b", "hamming", "n_emits")
      .agg(max(when(col("side") === 0, col("sig"))).as("sig_a"),
        max(when(col("side") === 1, col("sig"))).as("sig_b"))
      .where(col("sig_a").isNotNull && col("sig_b").isNotNull)
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("n_emits"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming_check"))
      .where(col("hamming_check") =!= col("hamming") || col("hamming") > maxHamming ||
        col("doc_a") >= col("doc_b") || col("n_emits") > 1)
      .orderBy("doc_a", "doc_b")
  }

  val simhashSound: GraftQuery = GraftQuery.checked("ns_dedup_simhash_sound",
    """SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS INTEGER) AS hamming, CAST(NULL AS BIGINT) AS n_emits,
           CAST(NULL AS INTEGER) AS hamming_check
    WHERE 1 = 0""")((s, d) => simhashViolations(s, d))

  /** Blocked exact n-gram Jaccard: block on (lang, length bucket), then
    * PPJoin-style PREFIX FILTERING inside blocks — for J(A,B) ≥ t two
    * sorted shingle sets must share an element among their first
    * ⌊(1−t)·|set|⌋+1 shingles, so candidates come from an inverted-
    * index equi-join on prefix shingles instead of the per-block cross
    * product (which a 10× weak-scaling run showed going quadratic).
    * Both prunes (prefix, size-ratio J ≤ min/max) are LOSSLESS: the
    * exact Jaccard filter at the end makes results identical. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val docs = memoCached(spark, dir, "ngram") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 100).cast("int").as("len_bucket"),
          hashedShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
        .withColumn("sz", size(col("sh")))
    }
    // inverted index over prefix shingles: the wide arrays never ride
    // the candidate join, and a pair must collide on a prefix token
    val prefixLen = (floor(lit(1.0 - threshold) * col("sz")) + 1).cast("int")
    val pref = docs.select(col("lang"), col("len_bucket"), col("doc_id"), col("sz"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("tok"))
    val a = pref.toDF("lang", "len_bucket", "doc_a", "sz_a", "tok")
    val b = pref.toDF("lang", "len_bucket", "doc_b", "sz_b", "tok")
    val candidates = a.join(b, Seq("lang", "len_bucket", "tok"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= threshold)
      .select("lang", "doc_a", "doc_b").distinct()
    candidates
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("lang"), col("doc_a"), col("doc_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("lang"), col("doc_a"), col("doc_b"), dround(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Blocked n-gram Jaccard IS oracle-expressible: the oracle builds the
    * same distinct 3-shingle sets as STRINGS (the Spark side hashes them
    * to 64-bit longs — collision probability ~2^-64 per shingle pair,
    * negligible) and the same (lang, len_bucket) blocking; the Spark
    * size-ratio prune is lossless (J ≤ min/max), so result sets match. */
  val ngramNearDups: GraftQuery = GraftQuery.checked("ns_dedup_ngram",
    """WITH docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
    SELECT lang, doc_a, doc_b, ROUND(j, 4) AS jaccard
    FROM pairs WHERE j >= 0.4 ORDER BY doc_a, doc_b""")((s, d) => ngramJaccardPairs(s, d))

  /** Exact n-gram-overlap DECONTAMINATION — the complement of the
    * similarity-based [[decontam]]: a probe (eval) document is
    * contaminated if any of its word 8-grams appears verbatim anywhere
    * in the training corpus (the standard "n-gram overlap" eval-leak
    * check). Pure inverted-index shape: corpus grams are DISTINCT
    * hashed 8-grams (one explode + distinct — no pairs, no bands), the
    * probe side semi-joins into them and aggregates per probe doc.
    * At 100 TB the corpus gram set shards by hash; the probe side
    * (an eval suite) is tiny. */
  /** (doc_id, sh) with hashed w-shingles — memoized: the exact and the
    * Bloom-prefiltered decontamination plans (and the pipeline funnel's
    * contamination stage) share this frame. */
  private[operators] def decontamDocs(spark: SparkSession, dir: String, w: Int): DataFrame =
    memoCached(spark, dir, s"decontam-docs-$w") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), hashedShingles(col("text"), w).as("sh"))
        .where(size(col("sh")) > 0)
    }

  def ngramDecontam(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    ngramDecontamCore(decontamDocs(spark, dir, w))

  /** Exact-decontamination core over an injected `(doc_id, sh)` frame
    * (probe split: ids ≡ 0 mod 10). Scaling numbers: BASELINE.md
    * "Round 4", round-4 weak-scaling table. */
  private[graft] def ngramDecontamCore(docs: DataFrame): DataFrame = {
    val corpusGrams = docs.where(col("doc_id") % 10 =!= 0)
      .select(explode(col("sh")).as("g")).distinct()
    val probe = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("probe_id"), col("sh"))
    decontamTail(probe, corpusGrams)
  }

  /** Shared hit-count/aggregate tail of both decontamination plans. */
  private def decontamTail(probe: DataFrame, corpusGrams: DataFrame): DataFrame = {
    val hits = probe.select(col("probe_id"), explode(col("sh")).as("g"))
      .join(corpusGrams, "g") // inner: only grams present in the corpus
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit_ngrams"))
    probe.select(col("probe_id"), size(col("sh")).cast("long").as("total_ngrams"))
      .join(hits, "probe_id") // contaminated probe docs only
      .select(col("probe_id"), col("n_hit_ngrams"), col("total_ngrams"),
        dround(col("n_hit_ngrams") / col("total_ngrams"), 4).as("hit_frac"))
      .orderBy("probe_id")
  }

  /** Oracle for both exact-n-gram decontamination paths: the same
    * inverted-index shape over string 8-grams. */
  private val ngramDecontamOracle: String =
    """WITH docs AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS sh
      FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 8),
    corpus_grams AS (
      SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id % 10 <> 0),
    probe_grams AS (
      SELECT doc_id AS probe_id, unnest(sh) AS g FROM docs WHERE doc_id % 10 = 0),
    hits AS (
      SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_hit_ngrams
      FROM probe_grams JOIN corpus_grams USING (g) GROUP BY probe_id)
    SELECT p.doc_id AS probe_id, h.n_hit_ngrams,
           CAST(len(p.sh) AS BIGINT) AS total_ngrams,
           ROUND(CAST(h.n_hit_ngrams AS DOUBLE) / len(p.sh), 4) AS hit_frac
    FROM docs p JOIN hits h ON p.doc_id = h.probe_id
    WHERE p.doc_id % 10 = 0
    ORDER BY probe_id"""

  val ngramDecontamQ: GraftQuery =
    GraftQuery.checked("ns_dedup_decontam_ngram", ngramDecontamOracle)((s, d) => ngramDecontam(s, d))

  /** Bloom-prefiltered exact n-gram decontamination — byte-identical
    * results to [[ngramDecontam]] (it shares that query's oracle), with
    * the scale bottleneck removed: the exact formulation DISTINCTs every
    * gram of the training corpus (a corpus-sized shuffle at 100 TB)
    * before the probe join, while here a Bloom filter built from the
    * probe side's gram hashes rides the corpus scan as a literal —
    * corpus grams that cannot be probe grams die inside the map stage,
    * so the distinct and the join touch only the grams that might
    * overlap the probe set. Bloom false positives survive the prefilter
    * but are dropped by the exact inner join: the prune is lossless.
    *
    * The probe side is the EVAL SUITE — tiny and bounded by design —
    * so collecting its distinct gram hashes to build the filter is a
    * model-sized driver transfer (same class as the IVF centroid
    * sample), never corpus rows. Probe indices are 3 disjoint bit
    * slices of the already-xxhash64-uniform gram hash: plain
    * shift/mask column algebra, identical on the driver build side and
    * the executor test side, with no overflow-prone arithmetic. */
  def ngramDecontamBloom(spark: SparkSession, dir: String, w: Int = 8,
                         bitsPerGram: Int = 16): DataFrame =
    ngramDecontamBloomCore(decontamDocs(spark, dir, w), bitsPerGram)

  /** Collected distinct gram hashes of a `(…, sh)` probe frame. The
    * probe side is an EVAL SUITE — tiny and bounded by design — so this
    * is a model-sized driver transfer (same class as the IVF centroid
    * sample), never corpus rows. */
  private[graft] def probeGramHashes(probe: DataFrame): Array[Long] =
    probe.select(explode(col("sh")).as("g")).distinct()
      .collect().map(_.getLong(0))

  /** Bloom membership predicate over a collected gram-hash set, riding
    * the corpus scan as a literal. Probe indices are 3 disjoint bit
    * slices of the already-xxhash64-uniform gram hash: plain shift/mask
    * column algebra, identical on the driver build side and the
    * executor test side. Shared by the standalone Bloom decontamination
    * plan and the pipeline funnel's contamination stage. */
  private[graft] def gramBloomPredicate(hashes: Array[Long],
                                        bitsPerGram: Int = 16): Column => Column = {
    // bits = next pow2 >= grams·bitsPerGram, clamped to [2^10, 2^21]
    // (2^21 bits = 32 K longs ≈ 256 KB literal — bounded plan size; at
    // that load k=3 keeps the false-positive rate well under 1%)
    val want = hashes.length.toLong * bitsPerGram
    val mBits = math.min(1L << 21, math.max(1L << 10,
      java.lang.Long.highestOneBit(math.max(1L, want - 1)) * 2)).toInt
    val words = new Array[Long](mBits / 64)
    for (g <- hashes; i <- 0 until 3) {
      val idx = ((g >>> (i * 21)) & (mBits - 1)).toInt
      words(idx >> 6) |= 1L << (idx & 63)
    }
    val wordsLit = typedLit(words.toSeq)
    (g: Column) =>
      (0 until 3).map { i =>
        val idx = shiftrightunsigned(g, i * 21).bitwiseAND(lit((mBits - 1).toLong))
        val word = element_at(wordsLit, shiftrightunsigned(idx, 6).cast("int") + 1)
        call_function("shiftright", word, idx.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }.reduce(_ && _)
  }

  /** Bloom-path core over an injected `(doc_id, sh)` frame. */
  private[graft] def ngramDecontamBloomCore(docs: DataFrame,
                                            bitsPerGram: Int = 16): DataFrame = {
    val probe = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("probe_id"), col("sh"))
    val mightContain = gramBloomPredicate(probeGramHashes(probe), bitsPerGram)
    val corpusGrams = docs.where(col("doc_id") % 10 =!= 0)
      .select(explode(col("sh")).as("g"))
      .where(mightContain(col("g")))
      .distinct()
    decontamTail(probe, corpusGrams)
  }

  val ngramDecontamBloomQ: GraftQuery =
    GraftQuery.checked("ns_dedup_decontam_bloom", ngramDecontamOracle)(
      (s, d) => ngramDecontamBloom(s, d))

  /** Verbatim duplicated-SPAN marker — the per-document form of exact
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": remove any span that appears
    * verbatim elsewhere in the corpus). The paper's suffix array over
    * the concatenated corpus is inherently single-machine; the
    * Spark-native equivalent anchors on POSITIONAL word 8-grams:
    *   1. every (doc, pos, gram-hash) — one map pass, row inflation =
    *      tokens per doc (the same explode the decontamination plans run);
    *   2. global occurrence count per gram (partial-agg shuffle on the
    *      gram key — map-side combine absorbs hot boilerplate grams);
    *      a position is duplicated iff its gram occurs >= 2 times
    *      anywhere (another doc OR a repeat within the same doc);
    *   3. per-doc gaps-and-islands (`pos - row_number` over the doc
    *      window) merges consecutive duplicated positions into MAXIMAL
    *      spans; a run of R grams covers R+w-1 tokens.
    * NO doc-pair term exists in the plan: a boilerplate sentence shared
    * by 1M documents costs 1M rows through the count and the join —
    * never C(1M,2) pairs, the trap a pairwise span formulation hits —
    * which is what makes removal-style span dedup viable at 100 TB.
    * Deliberately groupBy+join rather than `count over (partition by g)`:
    * window partitions cannot be AQE-skew-split (the `spans` skew rows
    * in BASELINE.md "Round 4", round-5 weak-scaling + skew tables,
    * measure exactly that), while the join back CAN, and the partial agg already collapses the hot key before its shuffle. The
    * only window is per-doc (step 3), bounded by document length. */
  /** Shared by the Spark plans AND interpolated into the oracle SQL
    * below, so a constant change cannot desynchronize them (the
    * round-4 semDedup-tau advice, applied preemptively). */
  private[graft] val SpanW = 8
  private[graft] val SpanMinTokens = 12

  def duplicatedSpans(spark: SparkSession, dir: String, w: Int = SpanW,
                      minTokens: Int = SpanMinTokens): DataFrame =
    islandsOf(dupPositions(spark, dir, w), w, minTokens)

  /** `(doc_id, pos, occ)` of every duplicated gram position — memoized:
    * the span query and the gram-fraction query share the corpus-sized
    * count+join (the expensive stages); islands/fractions are cheap
    * tails over this frame. */
  private def dupPositions(spark: SparkSession, dir: String, w: Int): DataFrame =
    memoCached(spark, dir, s"dup-pos-$w") {
      dupPositionsOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")), w)
    }

  /** Stages 1–2: positional gram hashes → global occurrence counts →
    * the duplicated positions `(doc_id, pos, occ)`. The hashes come from
    * the native one-pass kernel ([[graft.functions.PositionalShingleHashesExpr]]):
    * the equivalent `transform + concat_ws + xxhash64` column algebra
    * allocates a string PER POSITION per pass — measured superlinear at
    * 10× corpus scale purely from allocation pressure (BASELINE.md,
    * "Round 4", round-5 weak-scaling table). */
  private def dupPositionsOf(docs: DataFrame, w: Int): DataFrame = {
    import graft.functions.TextExpressions.positionalShingleHashes
    val grams = docs
      .select(col("doc_id"), posexplode(positionalShingleHashes(col("text"), w)))
      .toDF("doc_id", "p0", "g")
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
    val occ = grams.groupBy("g").agg(count(lit(1)).as("occ"))
    grams.join(occ.where(col("occ") >= 2), "g")
      .select("doc_id", "pos", "occ")
  }

  /** Stage 3: per-doc gaps-and-islands over duplicated positions →
    * maximal spans. */
  private def islandsOf(dup: DataFrame, w: Int, minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("isl", col("pos") - row_number().over(perDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").as("span_start"),
        (count(lit(1)) + (w - 1)).as("span_tokens"),
        max("occ").as("max_occ"))
      .where(col("span_tokens") >= minTokens)
      .select("doc_id", "span_start", "span_tokens", "max_occ")
      .orderBy("doc_id", "span_start")
  }

  /** Oracle: identical logic over gram STRINGS (the Spark side hashes
    * them — same 2^-64 collision argument as [[ngramNearDups]]). */
  val duplicatedSpansQ: GraftQuery = GraftQuery.checked("ns_dedup_spans",
    s"""WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SpanW - 2}),
               i -> struct_pack(pos := i, g := array_to_string(t[i:i+${SpanW - 1}], ' ')))) AS pg
      FROM t WHERE len(t) >= $SpanW),
    gf AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM g),
    cnt AS (SELECT g, COUNT(*) AS occ FROM gf GROUP BY g),
    dup AS (SELECT doc_id, pos, occ FROM gf JOIN cnt USING (g) WHERE occ >= 2),
    isl AS (SELECT doc_id, pos, occ,
              pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
            FROM dup)
    SELECT doc_id, MIN(pos) AS span_start,
           COUNT(*) + ${SpanW - 1} AS span_tokens, MAX(occ) AS max_occ
    FROM isl GROUP BY doc_id, isl
    HAVING COUNT(*) + ${SpanW - 1} >= $SpanMinTokens
    ORDER BY doc_id, span_start""")((s, d) => duplicatedSpans(s, d))

  /** CROSS-corpus duplicated-gram FRACTION per document — the removal
    * signal paired with [[duplicatedSpans]] (a doc that is mostly
    * verbatim-duplicated text gets dropped whole rather than
    * span-trimmed). Complements `ns_text_repetition`, which measures
    * WITHIN-doc gram repetition; this measures how much of the doc
    * exists verbatim anywhere else. Shares the memoized duplicated-
    * position frame with the span query (the corpus-sized stages run
    * once per session); the tail here is a plain partial-agg count per
    * doc joined back to a scan-side gram total — no window at all. */
  def gramDupFraction(spark: SparkSession, dir: String, w: Int = SpanW): DataFrame = {
    import graft.functions.TextExpressions.positionalShingleHashes
    val tot = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(positionalShingleHashes(col("text"), w)).cast("long").as("n_grams"))
      .where(col("n_grams") >= 1)
    val dup = dupPositions(spark, dir, w)
      .groupBy("doc_id").agg(count(lit(1)).as("dup_cnt"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_cnt"), lit(0L)).as("n_dup_grams"),
        dround(coalesce(col("dup_cnt"), lit(0L)) / col("n_grams"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  val gramDupFractionQ: GraftQuery = GraftQuery.checked("ns_dedup_gram_frac",
    s"""WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SpanW - 2}),
               i -> struct_pack(pos := i, g := array_to_string(t[i:i+${SpanW - 1}], ' ')))) AS pg
      FROM t WHERE len(t) >= $SpanW),
    gf AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM g),
    cnt AS (SELECT g, COUNT(*) AS occ FROM gf GROUP BY g),
    dup AS (SELECT doc_id, COUNT(*) AS dup_cnt
            FROM gf JOIN cnt USING (g) WHERE occ >= 2 GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(len(t) - ${SpanW - 1} AS BIGINT) AS n_grams
            FROM t WHERE len(t) >= $SpanW)
    SELECT tot.doc_id, tot.n_grams,
           CAST(COALESCE(dup.dup_cnt, 0) AS BIGINT) AS n_dup_grams,
           ROUND(CAST(COALESCE(dup.dup_cnt, 0) AS DOUBLE) / tot.n_grams, 4) AS dup_frac
    FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
    ORDER BY tot.doc_id""")((s, d) => gramDupFraction(s, d))

  /** Near-duplicate CLUSTERS via connected components over the verified
    * pair graph — the keep-one-per-cluster step an actual dedup pipeline
    * ends with (pairs alone over-delete: a~b, b~c must collapse to ONE
    * cluster even when a!~c). Distributed min-label propagation: each
    * round every node takes the min label in its closed neighborhood
    * (one join + one agg, all shuffle-parallel); converges in
    * graph-diameter rounds — near-dup components are short chains in
    * practice (adversarially deep chains would call for star-contraction
    * rounds, same join primitives). The only driver-side values are the
    * per-round convergence scalar and the loop itself;
    * `localCheckpoint` truncates lineage so plans stay flat. */
  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = 0.4,
                    maxIters: Int = 50): DataFrame =
    // memoized: the cluster query and the survivors anti-join share the
    // converged label frame (already materialized via localCheckpoint).
    // maxIters is part of the key — without it a caller passing a
    // different bound silently got the cached other-bound result (r7
    // review)
    memoCached(spark, dir, s"clusters-$threshold-$maxIters") {
      connectedComponents(ngramJaccardPairs(spark, dir, threshold).select("doc_a", "doc_b"),
        maxIters)
    }

  /** Distributed connected components over an undirected edge list
    * `(doc_a, doc_b)` — the generic core of [[dedupClusters]].
    * Scaling numbers: BASELINE.md "Measured (round 2 final…)",
    * connected-components weak scaling.
    * Returns `(doc_id, cluster_id)` for every node appearing in an edge, cluster id = min member. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val und = edges.unionByName(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))).cache()
    var labels = und.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = und
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("nbr_label")), "doc_b")
        .groupBy(col("doc_a").as("doc_id")).agg(min("nbr_label").as("nbr_min"))
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("cluster_id", "prev"), "doc_id")
        .where(col("cluster_id") =!= col("prev")).isEmpty
      labels = next
      iter += 1
    }
    // labels are localCheckpointed (materialized), so the edge cache can
    // go immediately — keeps repeat invocations from piling up cache
    // entries (and "already cached" warnings) in long sessions
    und.unpersist()
    // partially-propagated labels would silently mis-cluster (and then
    // mis-delete, via dedupSurvivors) — fail loudly instead; callers with
    // adversarially deep chains raise maxIters (rounds needed = diameter)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters rounds — " +
        s"component diameter exceeds maxIters; raise maxIters")
    labels.orderBy("doc_id")
  }

  /** Oracle: transitive closure by recursive CTE over the same verified
    * pair set (tiny at oracle scale), cluster id = min reachable node. */
  val clusters: GraftQuery = GraftQuery.checked("ns_dedup_cluster",
    """WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a ORDER BY doc_id""")((s, d) => dedupClusters(s, d))

  /** The dedup OUTPUT: every doc except non-minimal members of a
    * near-dup cluster (singletons survive untouched; each cluster keeps
    * its min doc_id). One anti-join against the (tiny relative to the
    * corpus) clustered-doc set. */
  def dedupSurvivors(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val dropped = dedupClusters(spark, dir, threshold)
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  val survivors: GraftQuery = GraftQuery.checked("ns_dedup_survivors",
    """WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    dropped AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a)
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    ORDER BY d.doc_id""")((s, d) => dedupSurvivors(s, d))

  /** LEAK-FREE train/val/test SPLIT — split assignment that respects
    * near-dup clusters: every member of a cluster lands in the SAME
    * split (assignment hashes the cluster REPRESENTATIVE, not the
    * doc), so a near-duplicate of a training document can never leak
    * into validation/test — the contamination mode plain per-doc
    * hashing silently creates and eval scores silently inflate on.
    * 80/10/10 by md5 of the representative (thresholds are exact
    * 32-bit hex constants: 0xcccccccc = ⌊0.8·2³²⌋, 0xe6666666 =
    * ⌊0.9·2³²⌋ — fixed-width lowercase hex compares identically in
    * both engines, the [[TextOps.mixtureSample]] convention).
    *
    * Scale shape: cluster labels are a near-dup-subset-sized frame
    * ([[dedupClusters]], memoized — banded candidates, never O(n²));
    * the left join back is keyed on doc_id (the corpus layout key, so
    * a doc_id-bucketed corpus never re-shuffles) and the split itself
    * is pure map-side hash algebra on the joined rep. The output
    * aggregate partial-combines to |splits|×|sources| rows per task. */
  /** Per-document split assignment — the frame behind [[leakFreeSplit]]
    * (and what a pipeline writes as its split manifest), factored out
    * so the straddle-free property is spec-testable per PAIR, not just
    * visible in the aggregate (r12: the leakage guarantee deserves a
    * direct test — every verified near-dup pair must land on one
    * side). */
  private[graft] def splitAssignments(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val labels = dedupClusters(spark, dir).select("doc_id", "cluster_id")
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("u", substring(md5(col("rep").cast("string").cast("binary")), 1, 8))
      .withColumn("split",
        when(col("u") < "cccccccc", "train")
          .when(col("u") < "e6666666", "val")
          .otherwise("test"))
  }

  def leakFreeSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssignments(spark, dir)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("split", "source")

  val splitLeakFree: GraftQuery = GraftQuery.checked("ns_dedup_split_leakfree",
    """WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    clusters AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                 FROM reach GROUP BY a),
    labeled AS (
      SELECT d.doc_id, d.source, d.n_chars,
             substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8) AS u
      FROM documents d LEFT JOIN clusters c USING (doc_id))
    SELECT CASE WHEN u < 'cccccccc' THEN 'train'
                WHEN u < 'e6666666' THEN 'val'
                ELSE 'test' END AS split,
           source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM labeled
    GROUP BY 1, source ORDER BY split, source""")((s, d) => leakFreeSplit(s, d))

  private val IncNewSources = Seq("src16", "src17", "src18", "src19")
  private val IncThreshold = 0.4

  /** INCREMENTAL snapshot dedup — the daily-crawl regime every corpus
    * pipeline actually runs: a NEW BATCH (sources [[IncNewSources]])
    * arrives against an existing CORPUS (everything else), and each
    * new doc is admitted only if it is neither a verbatim duplicate
    * (whitespace-normalized fingerprint — the `ns_text_fingerprint`
    * key) nor a near-duplicate (blocked 3-gram Jaccard ≥
    * [[IncThreshold]], the `ns_dedup_ngram` verifier) of any corpus
    * doc. Complements self-dedup (within one snapshot) and
    * decontamination (vs eval suites): here the reference set is the
    * corpus itself and the verdict is per NEW doc.
    *
    * Scale shape: the exact check is a fingerprint equi-join (corpus
    * side shards by hash). The near check is the cross-set form of
    * the PPJoin inverted index — prefix tokens of the new batch
    * equi-join prefix tokens of the corpus under the same lossless
    * prunes (prefix filter + size-ratio) as the self-join, so
    * per-ingest cost scales with the BATCH × collision rate, not with
    * corpus²; at 100 TB the corpus-side index is built once and
    * persisted (bucketed by token), and each daily batch probes it —
    * the amortization the incremental regime exists for. Docs too
    * short to shingle produce no prefix tokens and simply can't
    * near-match (the oracle guards the same pairs explicitly —
    * DuckDB's NaN from a 0/0 Jaccard would otherwise sort HIGH and
    * pass the threshold). Verdict columns (`dup_exact_of` = min matching
    * corpus id, `n_near`, `keep`) rather than a filtered corpus, so
    * the oracle checks the full decision surface including the docs
    * that survive. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = memoCached(spark, dir, "incremental") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          (col("n_chars") / 100).cast("int").as("len_bucket"),
          Curation.fingerprint(col("text")).as("fp"), // the canonical exact-dup key
          hashedShingles(col("text"), 3).as("sh"),
          col("source").isin(IncNewSources: _*).as("is_new"))
        .withColumn("sz", size(col("sh")))
    }
    val newD = base.where(col("is_new"))
    val corp = base.where(!col("is_new"))
    val exact = newD.select(col("doc_id"), col("fp"))
      .join(corp.select(col("fp"), col("doc_id").as("c_id")), "fp")
      .groupBy("doc_id").agg(min("c_id").as("dup_exact_of"))
    val prefixLen = (floor(lit(1.0 - IncThreshold) * col("sz")) + 1).cast("int")
    def pref(d: DataFrame, id: String, sz: String) =
      d.select(col("lang"), col("len_bucket"), col("doc_id").as(id), col("sz").as(sz),
        explode(slice(col("sh"), lit(1), prefixLen)).as("tok"))
    val cand = pref(newD, "doc_n", "sz_n")
      .join(pref(corp, "doc_c", "sz_c"), Seq("lang", "len_bucket", "tok"))
      .where(least(col("sz_n"), col("sz_c")).cast("double") /
        greatest(col("sz_n"), col("sz_c")) >= IncThreshold)
      .select("doc_n", "doc_c").distinct()
    val near = cand
      .join(newD.select(col("doc_id").as("doc_n"), col("sh").as("sh_n")), "doc_n")
      .join(corp.select(col("doc_id").as("doc_c"), col("sh").as("sh_c")), "doc_c")
      .where(jaccardSorted(col("sh_n"), col("sh_c")) >= IncThreshold)
      .groupBy(col("doc_n")).agg(count(lit(1)).as("n_near"))
      .withColumnRenamed("doc_n", "doc_id")
    newD.select(col("doc_id"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("dup_exact_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (col("dup_exact_of").isNull && coalesce(col("n_near"), lit(0L)) === 0).as("keep"))
      .orderBy("doc_id")
  }

  val incremental: GraftQuery = GraftQuery.checked("ns_dedup_incremental",
    s"""WITH docs AS (
      SELECT doc_id, source, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh,
             source IN (${IncNewSources.map("'" + _ + "'").mkString(", ")}) AS is_new
      FROM (SELECT doc_id, source, lang, n_chars, text,
              list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
            FROM documents)),
    exact AS (
      SELECT n.doc_id, MIN(c.doc_id) AS dup_exact_of
      FROM docs n JOIN docs c ON n.is_new AND NOT c.is_new AND n.fp = c.fp
      GROUP BY n.doc_id),
    near AS (
      SELECT n.doc_id, COUNT(*) AS n_near
      FROM docs n JOIN docs c
        ON n.is_new AND NOT c.is_new
       AND n.lang = c.lang AND n.len_bucket = c.len_bucket
       AND len(n.sh) >= 1 AND len(c.sh) >= 1
       AND CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE) /
           (len(n.sh) + len(c.sh) - len(list_intersect(n.sh, c.sh))) >= $IncThreshold
      GROUP BY n.doc_id)
    SELECT d.doc_id, d.source, e.dup_exact_of,
           COALESCE(nr.n_near, 0) AS n_near,
           (e.dup_exact_of IS NULL AND COALESCE(nr.n_near, 0) = 0) AS keep
    FROM docs d LEFT JOIN exact e ON d.doc_id = e.doc_id
                LEFT JOIN near nr ON d.doc_id = nr.doc_id
    WHERE d.is_new
    ORDER BY d.doc_id""")((s, d) => incrementalDedup(s, d))

  /** Seed count for [[sourceOverlapQ]]'s minhash signatures —
    * estimator stderr is √(J(1−J)/k) ≈ 0.06 at k=64. */
  private[graft] val OverlapSeeds = 64

  /** CROSS-SOURCE OVERLAP MATRIX — pairwise Jaccard similarity of the
    * 8-gram shingle SETS of whole sources (the "which crawls/dumps
    * duplicate each other" triage that decides what to dedup against
    * what, run before any doc-level pass).
    *
    * Scale shape — minhash in AGGREGATE form, the one formulation
    * that needs neither a DISTINCT nor a pair join over grams:
    *
    *   1. the gram stream (source, gram) is one explode, NEVER
    *      deduplicated — MIN is insensitive to duplicates, so the
    *      per-(source, seed) minimum over the raw stream equals the
    *      minimum over the distinct set (the trick that kills the
    *      corpus-sized DISTINCT the exact-Jaccard formulation needs);
    *   2. signatures are [[OverlapSeeds]] MIN aggregates with
    *      map-side partials — state is |sources|×k, model-sized, and
    *      the only shuffle is that tiny frame keyed by source;
    *   3. the pair matrix is the |sources|² signature self-join —
    *      catalog-sized.
    *
    * Determinism: seeded md5 minima are exact strings, identical in
    * both engines (the [[TextOps.shuffle]] md5 parity), so even the
    * ESTIMATE is bit-reproducible and oracle-checked — no
    * probabilistic rows-only carve-out. DedupSpec bounds the
    * estimator against exact Jaccard at test scale. */
  private[graft] def sourceSignatures(grams: DataFrame): DataFrame =
    grams.groupBy("source").agg(
      min(md5(concat(lit("0:"), col("g")).cast("binary"))).as("h0"),
      (1 until OverlapSeeds).map(s =>
        min(md5(concat(lit(s"$s:"), col("g")).cast("binary"))).as(s"h$s")): _*)

  private[graft] def sourceOverlapCore(grams: DataFrame): DataFrame = {
    val sigs = sourceSignatures(grams)
    val a = sigs.toDF(sigs.columns.map(c => if (c == "source") "src_a" else c + "_a"): _*)
    val b = sigs.toDF(sigs.columns.map(c => if (c == "source") "src_b" else c + "_b"): _*)
    val nMatch = (0 until OverlapSeeds)
      .map(s => when(col(s"h${s}_a") === col(s"h${s}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), nMatch.as("n_seed_matches"))
      .withColumn("est_jaccard", dround(col("n_seed_matches") / lit(OverlapSeeds.toDouble), 4))
      .orderBy("src_a", "src_b")
  }

  /** The raw (source, 8-gram) stream — duplicates intact (see
    * [[sourceOverlapCore]] step 1). */
  private[graft] def sourceGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        TextOps.tokensNonEmpty(col("text")).as("t"))
      .where(size(col("t")) >= 8)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(t) - 7), i -> array_join(slice(t, i, 8), ' '))")).as("g"))

  val sourceOverlapQ: GraftQuery = {
    val mins = (0 until OverlapSeeds)
      .map(s => s"MIN(md5('$s:' || g)) AS h$s").mkString(",\n             ")
    val eq = (0 until OverlapSeeds)
      .map(s => s"CAST(a.h$s = b.h$s AS INTEGER)").mkString(" + ")
    GraftQuery.checked("ns_dedup_source_overlap",
      s"""WITH grams AS (
      SELECT source, unnest(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS g
      FROM (SELECT source, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 8),
    sigs AS (
      SELECT source,
             $mins
      FROM grams GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST($eq AS BIGINT) AS n_seed_matches,
           ROUND(($eq) / $OverlapSeeds.0, 4) AS est_jaccard
    FROM sigs a JOIN sigs b ON a.source < b.source
    ORDER BY src_a, src_b""")((s, d) => sourceOverlapCore(sourceGrams(s, d)))
  }

  /** KEEP-BEST cluster survivor — the selection rule a production
    * dedup actually wants: per near-dup cluster, keep the member with
    * the HIGHEST composite quality ([[TextOps.qualityFrame]] — the
    * `ns_text_stats` formula, shared so the two queries cannot
    * drift), ties broken by min doc_id. [[survivors]]' min-id rule is
    * the canonical-id convention for content-addressed storage; this
    * is the quality-preserving one for a training mix (a cluster's
    * keeper should be its cleanest copy, not its oldest id). Output:
    * one row per cluster — size, kept doc, kept quality. The oracle
    * replays clustering (recursive closure), the quality formula, and
    * the argmax tie-break end-to-end.
    *
    * Scale shape: cluster labels are the memoized near-dup-subset
    * frame; quality is a map expression over the doc scan; the argmax
    * window partitions by cluster_id (cluster-sized frames, never a
    * global sort). */
  val keepBest: GraftQuery = GraftQuery.checked("ns_dedup_keep_best",
    s"""WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, lang, n_chars,
              list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
            FROM documents)
      WHERE len(t) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM und
                    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
               FROM reach GROUP BY a),
    q AS (SELECT doc_id, ${graft.operators.TextOps.qualitySql} AS quality
          FROM documents),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id) AS rn
      FROM labels l JOIN q USING (doc_id))
    SELECT cluster_id, COUNT(*) AS n_members,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
           MAX(CASE WHEN rn = 1 THEN quality END) AS keep_quality
    FROM ranked GROUP BY cluster_id
    ORDER BY cluster_id""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val labels = dedupClusters(spark, dir).select("doc_id", "cluster_id")
    val q = TextOps.qualityFrame(spark, dir)
    val w = Window.partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id"))
    labels.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("keep_doc_id"),
        max(when(col("rn") === 1, col("quality"))).as("keep_quality"))
      .orderBy("cluster_id")
  }

  val all: Seq[GraftQuery] = Seq(exactDups, minhashNearDups, minhashSound, simhashNearDups,
    simhashSound, ngramNearDups, decontam, decontamSound, ngramDecontamQ, ngramDecontamBloomQ,
    duplicatedSpansQ, gramDupFractionQ, clusters, survivors, incremental, sourceOverlapQ,
    splitLeakFree, keepBest)
}
