package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked by the `row_number` window that [[Bm25]]'s k-bounded
  * payload aggregate replaced. Same scored relations, same
  * (score DESC, doc_id ASC) order and output schema; LlmSpec compares
  * the two bit for bit. */
object Bm25Reference {

  /** [[Bm25.topk]] through the window tail. */
  def topk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame =
    rankTailWindow(Bm25.scored(docs, idCol, textCol, terms), k)

  /** [[Bm25.topkPerQuery]] through the window tail. */
  def topkPerQuery(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    rankTailWindow(Bm25.scoredPerQuery(docs, idCol, textCol, queries), k)

  /** A scored relation (optional `query_id`, `doc_id`, `n_hit_terms`,
    * `score`) → top-k rows per query as (query_id?, rank, doc_id,
    * n_hit_terms, score). */
  def rankTailWindow(scored: DataFrame, k: Int): DataFrame = {
    val keyCols = if (scored.columns.contains("query_id")) Seq(col("query_id")) else Nil
    val outCols = Seq(col("rank"), col("doc_id"), col("n_hit_terms"), col("score"))
    if (keyCols.isEmpty) {
      // limit BEFORE the rank window: TakeOrderedAndProject is a
      // distributed partial top-k; the unpartitioned window then runs
      // over only k rows, never the full scored relation
      scored.orderBy(col("score").desc, col("doc_id")).limit(k)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(outCols: _*)
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(keyCols ++ outCols: _*)
    }
  }
}
