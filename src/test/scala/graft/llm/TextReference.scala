package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composable reference twins of the codegen'd text expressions in
  * `graft.functions.TextExpressions`: the column-algebra forms the
  * native expressions replaced, kept here so the specs can pin the
  * native values against them (TokenExpressionsSpec, LlmSpec). The
  * DuckDB mirrors in `Shingles`/`TextStats`/`TextHash` mirror these
  * forms. */
object TextReference {

  /** [[Shingles.tokens]]: a regex split of the lower-cased text and an
    * interpreted filter of the empty strings. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** [[TextStats.markerHitsOfTokens]]. */
  def markerHitsOfTokens(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))

  /** [[TextStats.distinctCountOfTokens]]. */
  def distinctCountOfTokens(toks: Column): Column =
    size(array_distinct(toks))

  /** [[TextStats.qualityScoreOfTokens]] built on the composable
    * counters. */
  def qualityScoreOfTokens(toks: Column): Column = {
    val n = size(toks).cast("double")
    val lenScore = least(n / 100.0, lit(1.0))
    val diversity = distinctCountOfTokens(toks).cast("double") / n
    val stopRatio = markerHitsOfTokens(toks, TextStats.Stopwords).cast("double") / n
    lit(0.4) * lenScore + lit(0.4) * diversity + lit(0.2) * (lit(1.0) - stopRatio)
  }

  /** [[TextHash.polyHash]] as a higher-order-function fold over the
    * string's characters. */
  def polyHashFold(c: Column): Column =
    aggregate(
      transform(filter(split(c, ""), ch => ch =!= ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % TextHash.Prime)
}
