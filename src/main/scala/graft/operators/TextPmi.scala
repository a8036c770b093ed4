package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.GraftQuery.checked
import graft.functions.dround
import graft.sources.Tables

/** Token CO-OCCURRENCE / PMI mining — the phrase-detection and
  * topic-signal step of corpus analysis (word2vec-style collocation
  * scoring): which frequent-token pairs land in the same document far
  * more often than independence predicts.
  *
  * The naive formulation is the scale trap this operator exists to
  * avoid: exploding every document into tokens and SELF-JOINING the
  * token table on doc_id shuffles the exploded corpus twice and pays
  * the join machinery per document. Instead the pair space is bounded
  * up front by a TOP-V VOCABULARY (V = [[TextPmi.VocabTopV]], the
  * standard collocation-mining move — PMI on rare tokens is noise
  * anyway), and the plan never joins corpus-sized relations at all:
  *
  *   1. vocab: one explode + vocab-keyed groupBy (map-side partials;
  *      key space = corpus vocabulary, not corpus size) + top-V via
  *      `TakeOrderedAndProject` — the only corpus-wide aggregation.
  *   2. The V-row vocab collapses to a ONE-ROW array, broadcast to
  *      every task (`BroadcastNestedLoopJoin` on a single row — free).
  *   3. Each document filters its distinct tokens against that array
  *      and emits its ≤ V(V−1)/2 ordered pairs INLINE (sorted-array
  *      `transform`/`slice` — pure codegen, no shuffle, no join).
  *   4. The pair groupBy partial-aggregates map-side down to ≤ V²
  *      rows per task before the (tiny, corpus-independent) exchange.
  *
  * At 100 TB the corpus is touched exactly twice (once for df, once
  * for pairs), both passes embarrassingly parallel with no skew
  * surface — a whale document costs V²/2 pair emissions like any
  * other. Determinism: df/n12 are exact integers on both engines; the
  * PMI double is the same ln of the same integer ratio, rounded via
  * the shared 4-digit contract; ties in the top-V cut break on the
  * token string on both sides.
  */
object TextPmi {

  /** Vocabulary cut (top V tokens by document frequency) and the
    * minimum co-occurrence support — interpolated into BOTH the
    * DataFrame code and the oracle SQL (the shared-constant contract
    * from the round-4 semDedup tau finding). */
  private[graft] val VocabTopV = 20
  private[graft] val MinPairDocs = 5

  val pmi: GraftQuery = checked("ns_text_pmi",
    s"""WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                              w -> w <> ''))) AS tok
      FROM documents),
    df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
    vocab AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT $VocabTopV),
    ft AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
    pairs AS (
      SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS n12
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT p.t1, p.t2, p.n12, v1.df AS df1, v2.df AS df2,
           ROUND(ln((CAST(p.n12 AS DOUBLE) * n.n_docs) /
                    (CAST(v1.df AS DOUBLE) * v2.df)), 4) AS pmi
    FROM pairs p
    JOIN vocab v1 ON v1.tok = p.t1
    JOIN vocab v2 ON v2.tok = p.t2
    CROSS JOIN n
    WHERE p.n12 >= $MinPairDocs
    ORDER BY t1, t2""") { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      array_distinct(TextOps.tokensNonEmpty(lower(col("text")))).as("toks"))
    // the top-V vocabulary and the corpus count are model-sized static
    // artifacts of the per-dir snapshot — the IVF-index/BPE-merges/τ
    // memo discipline (r15: rebuilding the vocabulary paid a second
    // corpus tokenize + explode + vocab-keyed aggregate on every run,
    // and the count a third scan job; steady state is the pair pass)
    val vocab = OpMemo.cached(spark, dir, "text:pmi-vocab") {
      toks
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(VocabTopV)
    }
    val nDocs = OpMemo.cachedLong(spark, dir, "text:ndocs")(docs.count())
    pmiCore(toks, vocab, nDocs)
      .orderBy("t1", "t2")
  }

  /** The broadcast-vocab pair core over `(doc_id, toks)` × the V-row
    * `(tok, df)` vocabulary. `nDocs` is the corpus size for the independence baseline
    * (a count the caller already has; recomputing it here would add a
    * second action). */
  private[graft] def pmiCore(toks: DataFrame, vocab: DataFrame, nDocs: Long): DataFrame = {
    // V rows -> one broadcast array row; docs filter + emit pairs inline
    val vocabArr = vocab.agg(array_sort(collect_list(col("tok"))).as("vocab_arr"))
    val pairs = toks
      .crossJoin(broadcast(vocabArr))
      .select(array_sort(array_intersect(col("toks"), col("vocab_arr"))).as("ftoks"))
      .where(size(col("ftoks")) >= 2)
      .select(explode(expr(
        """flatten(transform(ftoks, (x, i) ->
          |  transform(slice(ftoks, i + 2, size(ftoks) - i - 1),
          |            y -> struct(x AS t1, y AS t2))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.t1").as("t1"), col("pr.t2").as("t2"))
      .agg(count(lit(1)).as("n12"))
      .where(col("n12") >= MinPairDocs)
    pairs
      .join(broadcast(vocab.select(col("tok").as("t1"), col("df").as("df1"))), "t1")
      .join(broadcast(vocab.select(col("tok").as("t2"), col("df").as("df2"))), "t2")
      .select(col("t1"), col("t2"), col("n12"), col("df1"), col("df2"),
        dround(log((col("n12").cast("double") * nDocs) /
          (col("df1").cast("double") * col("df2"))), 4).as("pmi"))
  }

  /** ZIPF rank-frequency fit per language: regress ln(freq) on
    * ln(rank) over the token frequency table — the corpus-health
    * diagnostic (natural language tracks slope ≈ −1; generated or
    * templated text flattens or cliffs). Least-squares slope via the
    * closed moment formula, SAME parenthesization both engines.
    *
    * Scale shape: one corpus-wide (lang, token) count — map-side
    * partials, vocabulary-sized key space — then ranking and moment
    * sums over the VOCABULARY frame (corpus-independent; the rank
    * window partitions by lang over ≤|vocab| rows). Float caveat,
    * documented: the ln-moment sums are double accumulations over the
    * vocabulary, so the two engines can differ by O(vocab·ulp) —
    * ~1e-14 here, nine orders below the shared 4-digit round; the
    * exact-integer trick doesn't apply to logs, and a vocabulary is
    * model-sized, not corpus-sized, so the exposure does not grow
    * with data. */
  val zipf: GraftQuery = checked("ns_text_zipf",
    """WITH tf AS (
      SELECT lang, tok, COUNT(*) AS freq
      FROM (SELECT lang,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      w -> w <> '')) AS tok
            FROM documents)
      GROUP BY lang, tok),
    ranked AS (
      SELECT lang, ln(CAST(row_number() OVER (PARTITION BY lang
                             ORDER BY freq DESC, tok) AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM tf),
    m AS (
      SELECT lang, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM ranked GROUP BY lang)
    SELECT lang, k AS vocab_size,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope
    FROM m
    WHERE k >= 2
    ORDER BY lang""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(TextOps.tokensNonEmpty(lower(col("text")))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
    val wRank = Window.partitionBy("lang").orderBy(col("freq").desc, col("tok"))
    val ranked = tf
      .withColumn("x", log(row_number().over(wRank).cast("double")))
      .withColumn("y", log(col("freq").cast("double")))
    ranked.groupBy("lang")
      .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      // k >= 2 guard (r12 review): a lang with ONE distinct token has
      // x = ln(1) = 0 everywhere, so numerator and denominator are
      // both exactly 0 — DIVIDE_BY_ZERO under Spark's ANSI default
      // (killing the whole query) vs IEEE NaN in DuckDB (a guaranteed
      // hash mismatch) with ANSI off. A 1-point regression has no
      // slope; the row is dropped on BOTH sides.
      .where(col("k") >= 2)
      .select(col("lang"), col("k").as("vocab_size"),
        dround((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
      .orderBy("lang")
  }

  val all: Seq[GraftQuery] = Seq(pmi, zipf)
}
