package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization and n-gram shingling — the shared front end of the
  * dedup family (MinHash, SimHash, n-gram Jaccard, fingerprints) and of
  * the curation stats. No UDFs: the tokens are the codegen'd
  * [[graft.functions.Tokens]] over Spark's own `lower`, so a projection
  * or filter over them stays inside whole-stage codegen, and everything
  * scales with the row partitioning (each document is processed where
  * it lives; the only shuffles downstream are the groupBy/join keys the
  * individual operators choose).
  */
object Shingles {

  /** Lower-cased whitespace tokens, empties dropped: the maximal runs of
    * characters other than the six Java-regex `\s` characters (space,
    * `\t`, `\n`, `\x0B`, `\f`, `\r`); null for null text. Other
    * Unicode spaces (`\u0085`, `\u00A0`, `\u2028`, ...) and the
    * `\u001C`–`\u001F` separators are token characters. The value of
    * `filter(split(lower(text), "\\s+"), t => t =!= "")`, with the
    * same type (`ARRAY<STRING>`, no null elements) — pinned in
    * TokenExpressionsSpec. */
  def tokens(text: Column): Column =
    graft.functions.TextExpressions.tokensNative(lower(text))

  /** Space-joined token n-grams (the classic shingle set input).
    * Empty array when the document has fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  // ----- DuckDB mirrors (same semantics, used by the oracle SQL) -----

  def tokensSql(expr: String): String =
    s"list_filter(string_split_regex(lower($expr), '\\s+'), t -> t <> '')"

  def shinglesSql(toksExpr: String, n: Int): String =
    s"CASE WHEN len($toksExpr) >= $n THEN " +
      s"list_transform(generate_series(1, len($toksExpr) - ${n - 1}), " +
      s"i -> array_to_string(($toksExpr)[i:i+${n - 1}], ' ')) " +
      s"ELSE [] END"
}
