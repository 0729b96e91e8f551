package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword relevance over the document corpus — the retrieval
  * primitive a curation pipeline uses to pull topic-targeted training
  * subsets ("give me the k documents most about X") and the lexical
  * half of hybrid (BM25 + embedding) retrieval.
  *
  * Standard Robertson/Sparck-Jones BM25:
  * `score(d, Q) = Σ_t idf(t) · tf(t,d)(k1+1) / (tf + k1(1 − b + b·dl/avgdl))`
  * with `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`.
  *
  * Scale shape: the only corpus-wide state is one row (N, avgdl) and a
  * |Q|-row df table — both broadcast. The per-document side is a single
  * pass over the token stream filtered to the query terms BEFORE the
  * tf `groupBy`, so the shuffle carries only matching (doc, term) rows,
  * not the corpus. Top-k is the house k-BOUNDED partial aggregation
  * ([[graft.functions.BoundedTopK]], payload arm — `n_hit_terms` rides
  * the keep-list): each map task holds at most k (score, doc, hits)
  * entries per query, so a query containing one POPULAR term — whose
  * scored relation is posting-list-sized, potentially corpus-sized —
  * never lands on a single rank-window task. The per-query
  * `row_number` window it replaced (bounded by the posting-list size
  * — empirical, not structural; the exact cliff class [[Similarity]]'s
  * serving ladder removed) is the test-side reference
  * `Bm25Reference.rankTailWindow` that `LlmSpec` compares against.
  *
  * Float determinism: avgdl is an exact DECIMAL mean rounded to 6
  * decimals before entering the per-row formula; each per-term score is
  * rounded and cast to DECIMAL before the per-doc sum (order-insensitive).
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** The ONE ranking tail every arm ends in: a scored relation
    * (optional `query_id`, `doc_id`, `n_hit_terms`, `score`) → top-k
    * rows per query as (query_id?, rank, doc_id, n_hit_terms, score).
    *
    * Default: the k-bounded payload aggregate
    * ([[graft.functions.BoundedTopK.topKByScorePayload]]) — O(k) state
    * per query per map task, `n_hit_terms` riding the keep-list so no
    * second id-keyed join (which would re-execute the whole scored
    * subtree) recovers it. Bit-parity with the window arm: the SAME
    * 6-decimal-rounded score doubles are compared, same
    * (score DESC, doc_id ASC) total order, and neither score nor
    * n_hit_terms is ever null here (both are aggregates over ≥ 1 row). */
  private def rankTail(scored: DataFrame, k: Int): DataFrame = {
    val keyCols = if (scored.columns.contains("query_id")) Seq(col("query_id")) else Nil
    scored.groupBy(keyCols: _*)
      .agg(graft.functions.BoundedTopK.topKByScorePayload(k,
        col("score"), col("doc_id"), col("n_hit_terms")).as("__top"))
      .select(keyCols :+ posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(keyCols ++ Seq(
        (col("__pos") + 1).cast("long").as("rank"),
        col("__e.id").as("doc_id"),
        col("__e.p").as("n_hit_terms"),
        col("__e.s").as("score")): _*)
  }

  /** Top-k documents by BM25 relevance to `terms`.
    * Output: rank, doc_id, n_hit_terms, score. */
  def topk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame =
    rankTail(scored(docs, idCol, textCol, terms), k)

  /** [[topk]]'s scored relation before the ranking tail:
    * (doc_id, n_hit_terms, score) for every document hitting `terms`. */
  private[llm] def scored(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame = {
    val t = tokenRelation(docs, idCol, textCol)
    val tk = t.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = tk.groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    perDocScores(scoreCore(tf, statsOf(t)), Nil)
  }

  /** (doc_id, toks, dl) over the non-empty documents — the shared
    * front of both scan arms and the index build. */
  private def tokenRelation(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      Shingles.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))

  /** One broadcast row: corpus size and exact-mean doc length. The
    * integer sum is exact; cast-to-double BEFORE the division so both
    * engines do the same double/long divide (decimal-division scale
    * rules differ between engines). */
  private def statsOf(t: DataFrame): DataFrame = t.agg(
    count(lit(1)).as("n_docs"),
    round(sum(col("dl")).cast("double") / count(lit(1)), 6).as("avgdl"))

  /** The ONE scoring core every arm routes through: a tf relation
    * (doc_id, dl, w, tf) already restricted to the query terms, plus a
    * 1-row (n_docs, avgdl) stats relation → per-(doc, term) DECIMAL
    * scores. df is |Q| rows computed from the restricted tf itself
    * (document frequency among non-empty docs — identical whether tf
    * came from a corpus scan or the at-rest posting lists), so the
    * scan and index arms are bit-identical by construction. */
  private def scoreCore(tf: DataFrame, stats: DataFrame): DataFrame = {
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df")) // |Q| rows
    tf.join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        // K1+1 written as the literal 2.2 (not computed) so the oracle's
        // parsed literal is bit-identical
        round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))),
          6).cast("decimal(20,9)").as("sc"))
  }

  /** Per-term scores → the per-doc (or per-(query, doc)) scored
    * relation rankTail consumes: order-insensitive DECIMAL sum, hit
    * count, 6-decimal double on output. */
  private def perDocScores(perTerm: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col) :+ col("doc_id")
    perTerm.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("sc")).as("s"))
      .select(keys ++ Seq(col("n_hit_terms"),
        round(col("s").cast("double"), 6).as("score")): _*)
  }

  /** Multi-query BM25: top-k per query for a small literal query set —
    * the lexical half of hybrid retrieval ([[Hybrid.rrfFuse]]).
    *
    * Same scale shape as [[topk]]: the token stream is filtered to the
    * UNION of all query terms before the tf `groupBy` (the shuffle
    * carries only matching (doc, term) rows), per-term scores are
    * corpus-global (df does not depend on the query), and the
    * query-membership join is a broadcast of the tiny (query_id, term)
    * relation. The per-query top-k is the k-bounded payload aggregate
    * (see [[rankTail]]), so adding queries adds no new corpus passes
    * AND a one-popular-term query's posting-list-sized scored relation
    * never concentrates on one task.
    *
    * Output: query_id, rank, doc_id, n_hit_terms, score. */
  def topkPerQuery(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    rankTail(scoredPerQuery(docs, idCol, textCol, queries), k)

  /** [[topkPerQuery]]'s scored relation before the ranking tail:
    * (query_id, doc_id, n_hit_terms, score). */
  private[llm] def scoredPerQuery(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    val allTerms = queries.flatMap(_._2).distinct
    val t = tokenRelation(docs, idCol, textCol)
    val tk = t.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(allTerms: _*))
    val tf = tk.groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    perDocScores(
      scoreCore(tf, statsOf(t)).join(broadcast(queryTerms(docs, queries)), "w"),
      Seq("query_id"))
  }

  /** The tiny (query_id, w) membership relation. */
  private def queryTerms(docs: DataFrame, queries: Seq[(Long, Seq[String])]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    queries.flatMap { case (q, ts) => ts.map(w => (q, w)) }.toDF("query_id", "w")
  }

  // ---------- at-rest inverted index (build once, serve every query) ----------

  /** Build the at-rest BM25 inverted index: one posting row per
    * (term, doc) — `(w, doc_id, tf, dl)`. The build pays the corpus
    * tokenize+explode ONCE; serving ([[topkFromIndex]]) then reads
    * ONLY the query terms' posting lists — store the table
    * RANGE-clustered by `(w, doc_id)` (repartitionByRange + sort) so
    * file/row-group min-max stats prune untouched terms while a HOT
    * term's posting list still SPLITS across files and reads in
    * parallel. Do not hash-partition by `w` alone: that puts a
    * stop-word-ish term's whole posting list (potentially
    * corpus-sized) in one file — a single-task read, measured 5.8×
    * slower than the range-clustered layout at a 20M-doc hot term
    * (SCALING.md row `bm25-skew`). Maintenance under corpus
    * growth is increment-ADD ([[indexAdd]]): disjoint new ids
    * contribute disjoint posting rows, and df/avgdl are recomputed
    * from the union at serve time, exactly as a batch rebuild would. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenRelation(docs, idCol, textCol)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .groupBy(col("w"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** The index's 1-row corpus-stats side-table, `(n_docs, sum_dl)` —
    * EXACT integer aggregates (not the rounded mean) precisely so
    * maintenance is lossless addition: summing two disjoint corpora's
    * (n_docs, sum_dl) rows gives the union's row bit-exactly, whereas
    * averaged averages would drift. The rounded `avgdl` the formula
    * needs is derived at serve time ([[servingStats]]) with the SAME
    * cast-double-then-round as the scan arm. */
  def indexStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenRelation(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Advance an at-rest index by a new batch (ids DISJOINT from every
    * doc already indexed — re-submitted ids would double their posting
    * rows): the increment's posting rows are generated from the batch
    * alone (increment-sized; the old posting lists are untouched) and
    * APPENDED, stats add. Serving the advanced index is identical to
    * rebuilding from the union corpus ([[scoreCore]] recomputes df and
    * avgdl from union postings/stats — spec-pinned).
    *
    * Layout note for the recommended range-clustered (w, doc_id) store
    * (see [[buildIndex]]): appended increments form NEW files whose
    * (w, doc_id) ranges overlap the existing ones, so min-max pruning
    * degrades one overlapping file-set per append — still pruned to
    * the query terms' ranges, but each term now touches one file per
    * appended increment. Re-cluster (compact) on a cadence — e.g.
    * weekly, or when file count per term range exceeds a threshold —
    * by rewriting `repartitionByRange(w, doc_id)`, exactly the
    * standard compaction loop any log-structured store runs. Do NOT
    * switch to hash-partitioning by `w` to make appends "pure": that
    * layout single-files a hot term's corpus-sized posting list — the
    * measured 5.8× single-task read [[buildIndex]] warns about. */
  def indexAdd(
      postings: DataFrame,
      stats: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, DataFrame) = (
    postings.unionByName(buildIndex(newDocs, idCol, textCol)),
    stats.unionByName(indexStats(newDocs, idCol, textCol))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))

  /** The index's storage layout, as an operator: RANGE-cluster the
    * posting rows by (w, doc_id) into `files` write partitions and
    * sort within each — file/row-group min-max stats then prune
    * untouched terms while a hot term's posting list SPLITS across
    * files and reads in parallel (the measured 5.8× win over
    * hash-partitioning by `w`; see [[buildIndex]]). Run it on the
    * bootstrap build AND as the periodic compaction pass after
    * [[indexAdd]] appends erode the clustering (see [[indexAdd]]'s
    * layout note): `clusterIndex(read(dir)).write.parquet(dir2)`. */
  def clusterIndex(postings: DataFrame, files: Int = 64): DataFrame =
    postings.repartitionByRange(files, col("w"), col("doc_id"))
      .sortWithinPartitions("w", "doc_id")

  /** Retire documents from an at-rest index: drop their posting rows
    * and subtract their (n_docs, sum_dl) contribution — the
    * maintenance path deletes and rewrites need (the other half of
    * [[indexAdd]]'s grow-only story). `ids` is a one-column (doc_id)
    * relation, bounded by the delete/rewrite batch — it rides the
    * [[Guards]] broadcast knob like every other increment-bounded
    * guard set. The removed docs' stats contribution is recovered from
    * the postings themselves (each doc's `dl` repeats on every posting
    * row; one distinct over the removed rows — increment-bounded —
    * recovers it), so no access to the retired text is needed.
    * Serving the shrunk index is identical to rebuilding from the
    * shrunk corpus (spec-pinned in Bm25IndexSpec). */
  def indexRemove(
      postings: DataFrame,
      stats: DataFrame,
      ids: DataFrame): (DataFrame, DataFrame) = {
    val idsDf = ids.toDF("doc_id")
    val removed = postings.join(Guards.broadcastBounded(idsDf), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
    // a using-columns join moves doc_id FIRST — restore the caller's
    // posting column order by NAME
    (postings.join(Guards.broadcastBounded(idsDf), Seq("doc_id"), "left_anti")
       .select(postings.columns.map(col): _*),
      stats.unionByName(removed.select((-col("n_docs")).as("n_docs"),
        (-col("sum_dl")).as("sum_dl")))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
  }

  /** Re-index REWRITTEN documents — the maintenance path the
    * line-dedup journey forces ([[LineDedup.rewritesIncremental]]
    * mutates old docs' text, staling their posting rows): retire the
    * old rows ([[indexRemove]] on the rewritten ids), then index the
    * new text ([[indexAdd]]). A doc rewritten to empty (every line
    * banned) contributes nothing on re-add — exactly as a full rebuild
    * over the rewritten corpus would drop it ([[buildIndex]] filters
    * empty docs), so serve-after-rewrite equals rebuild bit-for-bit
    * (spec-pinned). Cost is bounded by the rewritten docs' posting
    * rows — increment-sized, never a corpus pass. */
  def indexRebuildDocs(
      postings: DataFrame,
      stats: DataFrame,
      rewrites: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val (p1, s1) = indexRemove(postings, stats, rewrites.select(col(idCol)))
    indexAdd(p1, s1, rewrites, idCol, textCol)
  }

  /** (n_docs, avgdl) from the stored exact stats — the same
    * double/long divide and 6-decimal round as [[statsOf]]. */
  private def servingStats(stats: DataFrame): DataFrame =
    stats.select(col("n_docs"),
      round(col("sum_dl").cast("double") / col("n_docs"), 6).as("avgdl"))

  /** [[topk]] served from the at-rest index: bit-identical output (the
    * arms share [[scoreCore]]/[[perDocScores]]/[[rankTail]]; the tf
    * relation is the stored posting rows instead of a fresh corpus
    * tokenize — same (doc_id, dl, w, tf) tuples by construction), with
    * NO corpus pass: the only inputs are the query terms' posting
    * lists and the 1-row stats table. */
  def topkFromIndex(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      k: Int): DataFrame = {
    val tf = postings.filter(col("w").isin(terms: _*))
    rankTail(perDocScores(scoreCore(tf, servingStats(stats)), Nil), k)
  }

  /** [[topkPerQuery]] served from the at-rest index — see
    * [[topkFromIndex]]; the query-membership join broadcasts the tiny
    * (query_id, term) relation exactly like the scan arm. */
  def topkPerQueryFromIndex(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    val allTerms = queries.flatMap(_._2).distinct
    val tf = postings.filter(col("w").isin(allTerms: _*))
    val scored = perDocScores(
      scoreCore(tf, servingStats(stats)).join(broadcast(queryTerms(postings, queries)), "w"),
      Seq("query_id"))
    rankTail(scored, k)
  }
}
