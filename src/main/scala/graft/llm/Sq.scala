package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar-quantized (SQ8) ANN serving — the FAISS `IndexScalarQuantizer`
  * family: the index rung between brute-force float scan and product
  * quantization. Each corpus vector is stored as the per-vector int8
  * codes of [[Quantize.int8]] (4× smaller than float32), and queries
  * rank by ASYMMETRIC similarity — full-precision query against the
  * quantized corpus vector.
  *
  * Why cosine needs no dequantization: the reconstruction is
  * `v̂ = codes · amax/127` with `amax/127 > 0` a per-vector positive
  * scale, and cosine is invariant to positive scaling of either
  * argument — so `cos(q, v̂) = cos(q, codes)` exactly, and the scan
  * never touches `amax`. Per-dimension resolution is kept (unlike PQ,
  * which quantizes whole subvectors to a handful of centroids), so
  * SQ8 recall stays near-exact even on clusterless corpora where
  * PQ-ADC collapses — the trade is that SQ8 prunes NOTHING: it is
  * still a full scan, just over 4× fewer bytes.
  *
  * Scale shape: identical to [[Similarity.topKCosine]] — the corpus is
  * scanned once where it lives (codes keep the scan column 4× narrower
  * at rest and on the wire), the query set broadcasts, and the only
  * shuffle is the per-query k-bounded top-k over |Q|·|corpus| scored rows.
  * At 100 TB the SQ win is scan bandwidth and index residency, not
  * candidate count; compose with IVF cells when pruning is needed.
  *
  * Determinism contract (oracle-replayable): codes are the
  * bit-deterministic [[Quantize.int8]] values; int codes cast to float
  * is exact (|code| ≤ 127); the dot is the ordered double fold of
  * [[Similarity.dot]], identical to the DuckDB mirror.
  */
object Sq {

  /** Asymmetric SQ8 top-k: exact float queries against int8-coded
    * corpus, ranked by `cos(q, codes)` (see object doc for why that
    * equals cosine against the reconstruction). Zero-norm vectors are
    * excluded from BOTH sides — cosine is undefined for them (the exact
    * scan would divide by zero), and a zero vector can never be a
    * meaningful cosine neighbor. Output:
    * (query_id, neighbor_id, rank, sq_sim round 6). */
  def topKCosineSq(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    topKCosineCoded(buildIndex(corpus, idCol, vecCol), queries, idCol, vecCol, k)

  /** The index-BUILD half: (idCol, codes int8-as-float) — materialize
    * this once (e.g. to parquet) and serve every query batch from it;
    * the at-rest index is 4× narrower than the float corpus. Zero-norm
    * vectors are dropped here (cosine undefined; see object doc). */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    Quantize.int8(corpus, idCol, vecCol)
      .select(col(idCol), col("codes").cast("array<float>").as("codes"))
      .filter(exists(col("codes"), x => x =!= 0.0f))

  /** The index-SERVE half: asymmetric scan of a [[buildIndex]] table
    * (idCol, codes). Same output contract as [[topKCosineSq]]. The
    * per-query top-k is [[Similarity.topKCosine]]'s ranking tail (the
    * k-bounded partial aggregation for integral ids: map-side ≤ k
    * entries per query, no |corpus|-rows-in-one-task window sort). */
  def topKCosineCoded(
      codedCorpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = codedCorpus.select(col(idCol).as("neighbor_id"), col("codes").as("__cc"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .filter(exists(col("__qv"), x => x =!= 0.0f))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", Similarity.cosine(col("__qv"), col("__cc")))
    Similarity.rankPerQuery(scored, k, codedCorpus.schema(idCol).dataType, "sq_sim")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** SQ8 + exact refine (FAISS `IndexRefineFlat` over the SQ scan):
    * the quantized scan proposes a k·refineFactor shortlist, exact
    * cosine on only those candidates picks the final top-k — the same
    * remedy shape as [[Pq.topKAdcRefined]], undoing quantization
    * mis-ordering near the top-k boundary. Shortlist is ≤|Q|·k′ rows →
    * broadcasts into [[Similarity.refineTopK]]. Output:
    * (query_id, neighbor_id, rank, cos_sim round 6). */
  def topKCosineSqRefined(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refineFactor: Int = 3): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val shortlist = topKCosineSq(corpus, queries, idCol, vecCol, k * refineFactor)
    Similarity.refineTopK(corpus, queries, shortlist, idCol, vecCol, k, "cosine")
  }

  // ----- DuckDB mirrors (same semantics, used by the oracle SQL) -----

  /** Codes of `vec` as a DOUBLE list — [[Quantize.int8]]'s exact
    * values (floor of the single IEEE division; all-zero vector →
    * all-zero codes). Kept as doubles so [[Similarity.cosineSql]]
    * applies unchanged. */
  def codesSql(vec: String): String = {
    val amax = s"list_max(list_transform($vec, x -> abs(CAST(x AS DOUBLE))))"
    s"CASE WHEN $amax > 0 THEN " +
      s"list_transform($vec, x -> floor(CAST(x AS DOUBLE) * 127.0 / $amax)) " +
      s"ELSE list_transform($vec, x -> CAST(0 AS DOUBLE)) END"
  }
}
