package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.TextExpressions
import graft.sources.Tables

/** Blocklist SAFETY FILTERING — the C4/RefinedWeb "bad words" stage:
  * drop (or flag) documents containing any term from a curated list
  * (C4 used the "List of Dirty, Naughty …" list; every production
  * corpus pipeline runs some variant before training). The reference
  * (`/root/reference/src/kalytical/facade.py`) would run this as an
  * opaque engine job; here the matcher is the engine's own native
  * expression.
  *
  * Scale shape: ONE Aho–Corasick byte walk per document
  * ([[graft.functions.BlocklistMatchesExpr]]) finds all terms
  * simultaneously — O(bytes) per row regardless of blocklist size
  * (bitset accumulator since r9; the old single-Long form capped at
  * 64 terms), where per-term `contains` re-scans the document |terms|
  * times and a regex alternation backtracks. Measured (BASELINE.md
  * "Round 8 — rewrite receipts", sf0.1): the walk reads 0.15–0.38 s FLAT from 4 to 10⁴ terms while
  * the contains-chain grows linearly (42× slower at 1024 terms) and
  * at 10⁴ terms is not even expressible — the generated chain blows
  * the JVM's 64 KB method limit. The automaton ships inside the
  * expression (model-sized, like the DSIR weight array); the plan is a
  * pure map + filter — zero shuffle, zero join, and the match column
  * prunes to the scan. STATELESS, so the same expression drops into a
  * `readStream` unchanged (the quality-filter streaming convention).
  *
  * The oracle mirrors with per-term `contains` + `list_filter` — the
  * O(bytes × terms) form the native walk replaces; identical result,
  * spec-pinned on overlapping/prefix-sharing patterns where naive
  * automata diverge (fail-link coverage).
  */
object TextSafety {

  /** The term list — sorted + distinct (the expression's canonical-
    * output contract). Includes a prefix-sharing pair ("value",
    * "value table") so the corpus run itself exercises fail links, and
    * a two-word phrase to pin substring (not token) semantics. */
  private[graft] val Terms = Seq("fast merge", "slow", "value", "value table")

  private def termsSqlList: String =
    Terms.map(t => s"'$t'").mkString("[", ", ", "]")

  /** Flagged documents: every doc containing ≥1 blocklist term, with
    * the sorted distinct matched terms. (The complement — the kept
    * corpus — is the same scan with the filter inverted; emitting the
    * small side is the oracle-friendly choice.) */
  val blocklist: GraftQuery = GraftQuery.checked("ns_text_blocklist",
    s"""SELECT doc_id,
       CAST(len(matched) AS BIGINT) AS n_terms,
       array_to_string(matched, ',') AS terms_csv
    FROM (
      SELECT doc_id,
             list_sort(list_filter($termsSqlList, t -> contains(text, t))) AS matched
      FROM documents)
    WHERE len(matched) > 0
    ORDER BY doc_id""") { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextExpressions.blocklistMatches(col("text"), Terms).as("matched"))
      .where(size(col("matched")) > 0)
      .select(col("doc_id"),
        size(col("matched")).cast("long").as("n_terms"),
        array_join(col("matched"), ",").as("terms_csv"))
      .orderBy("doc_id")
  }

  val all: Seq[GraftQuery] = Seq(blocklist)
}
