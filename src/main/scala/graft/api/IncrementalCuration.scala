package graft.api

import graft.core.CacheScope
import graft.llm._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DAILY-INCREMENT twin of [[CurationPipeline]]: one step curates
  * a new crawl batch against the accumulated corpus's at-rest state
  * and advances that state — the journey a production pipeline runs
  * every day, where [[CurationPipeline.run]] is what it runs once to
  * bootstrap. No stage ever touches old×old work:
  *
  *  - URL hygiene reads the at-rest seen-URL set and per-host counts
  *    ([[Urls.dedupByUrlIncremental]], [[Urls.hostCapIncremental]]);
  *  - scoring/gating are row-local (identical to batch by
  *    construction);
  *  - near-dup pairing reads the at-rest shingle index AND its stored
  *    side-tables ([[MinHash.nearDuplicatesIncremental]] with the
  *    [[MinHash.BandIndex]] band-key/bucket-count/size tables — or
  *    [[Jaccard.nearDuplicatesIncremental]] with its at-rest
  *    df/size side-tables, [[stepJaccard]]) — no aggregate over the
  *    accumulated corpus in either flavor;
  *  - the keep decision reads the at-rest component labels
  *    ([[DedupClusters.updateComponentsWithRevokedKeeps]] — CC on the
  *    contracted increment-sized graph only).
  *
  * Identity contract (spec-pinned in IncrementalCurationSpec): with
  * batch ids MONOTONE (every new id exceeds every old id — the
  * arrival-order property real crawl ids have, and what each state's
  * [[Urls.idWatermark]] guard enforces fail-fast), a step's survivors
  * equal the batch pipeline over old ∪ new restricted to new ids, the
  * REVOKED set it also returns is exactly the previously-emitted
  * survivors a batch run would now drop (see [[step]]), and the
  * advanced state equals the state built from old ∪ new. Chaining
  * steps therefore equals one big batch: accumulated survivors =
  * (Σ step survivors) minus (Σ later revocations).
  *
  * State tables are plain DataFrames so production can persist each
  * one where it belongs (bucket `seenUrls` by canonical_url,
  * `hostCounts` by host, `shingleIndex`/`dfs` by h, `sizes` by the
  * id, `labels` by component — then every read here is exchange-free
  * on the corpus side).
  */
object IncrementalCuration {

  /** At-rest crawl-hygiene state: every canonical URL ever crawled,
    * the per-host counts of the URL-DEDUPED stream (hostCap ranks over
    * what survived URL dedup — the batch composition's intermediate),
    * and the max-id watermark guarding the monotone-id contract
    * ([[Urls.idWatermark]]; `None` trusts the caller — the
    * pre-watermark behavior, where a backfill batch silently returns
    * wrong survivors instead of raising). */
  final case class UrlState(
      seenUrls: DataFrame,
      hostCounts: DataFrame,
      maxId: Option[DataFrame] = None)

  /** At-rest dedup state of the GATED accumulated corpus: its shingle
    * index, the component labels of its near-dup graph, the max-id
    * watermark (here guarding ID-DISJOINTNESS of each batch —
    * re-submitted ids would duplicate index rows; the dedup algebra
    * itself needs only disjointness, see [[step]]), and the banded-LSH
    * side-tables ([[MinHash.BandIndex]]: band keys, bucket counts,
    * sizes). `bands = None` is the bootstrap-only mode — each step
    * then re-derives the old side's signatures from the shingle index,
    * a corpus-sized groupBy that makes the composed daily step lose to
    * its batch bootstrap (SCALING.md row `journey-ladder`); carry the
    * side-tables (the [[stateOf]] default) to keep every stage
    * increment-sized. */
  final case class State(
      shingleIndex: DataFrame,
      labels: DataFrame,
      maxId: Option[DataFrame] = None,
      bands: Option[MinHash.BandIndex] = None)

  /** [[State]] under the exact n-gram Jaccard flavor: the SAME
    * (id, h) shingle index plus its [[Jaccard.indexDfs]] /
    * [[Jaccard.indexSizes]] side-tables — carried precisely so the
    * step never pays a linear pass over the index (the df check and
    * the size lookup become increment-keyed joins; maintenance is
    * increment-ADD, the rule their Scaladoc states). */
  final case class JaccardState(
      shingleIndex: DataFrame,
      dfs: DataFrame,
      sizes: DataFrame,
      labels: DataFrame,
      maxId: Option[DataFrame] = None)

  /** Advance a 1-row [[Urls.idWatermark]] by a new batch. */
  private def advance(
      maxId: Option[DataFrame], newDocs: DataFrame, idCol: String): Option[DataFrame] =
    maxId.map(_.unionByName(Urls.idWatermark(newDocs, idCol))
      .agg(max(col("max_id")).as("max_id")))

  /** Bootstrap [[UrlState]] from an accumulated crawl (production
    * persists and advances it instead of rebuilding). */
  def urlStateOf(docs: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url"): UrlState =
    UrlState(
      Urls.seenUrls(docs, urlCol),
      Urls.hostSeenCounts(
        Urls.dedupByUrl(docs, idCol, urlCol).drop("host", "canonical_url"),
        urlCol),
      Some(Urls.idWatermark(docs, idCol)))

  /** Incremental [[CurationPipeline.urlHygiene]]: the new batch's
    * survivors plus the advanced state. First-crawl-wins and
    * earliest-fills-first make THIS step's output genuinely depend on
    * the monotone-id contract, so the state's watermark (when carried)
    * turns a backfill batch into a scan-time error. */
  def urlHygieneStep(
      newDocs: DataFrame,
      state: UrlState,
      idCol: String = "doc_id",
      urlCol: String = "url",
      maxPerHost: Int = 10000): (DataFrame, UrlState) = {
    val urlDeduped = Urls
      .dedupByUrlIncremental(newDocs, idCol, urlCol, state.seenUrls, state.maxId)
      .drop("host", "canonical_url")
    val survivors = Urls.hostCapIncremental(
      urlDeduped, idCol, urlCol, maxPerHost, state.hostCounts, state.maxId)
    val nextState = UrlState(
      state.seenUrls.unionByName(Urls.seenUrls(newDocs, urlCol)).distinct(),
      state.hostCounts.unionByName(Urls.hostSeenCounts(urlDeduped, urlCol))
        .groupBy(col("host")).agg(sum(col("n_seen")).as("n_seen")),
      advance(state.maxId, newDocs, idCol))
    (survivors, nextState)
  }

  /** Bootstrap [[State]] from an accumulated corpus with the SAME
    * knobs the steps will use (the spec path; production persists). */
  def stateOf(
      docs: DataFrame,
      minQuality: Double = 0.5,
      dupThreshold: Double = 0.8,
      maxBucket: Option[Int] = Some(10000)): State = {
    val gated = CurationPipeline.gate(CurationPipeline.score(docs), minQuality)
    val pairs = CurationPipeline.nearDuplicatePairs(gated,
      threshold = dupThreshold, maxBucket = maxBucket)
    val index = MinHash.shingleIndex(gated, "doc_id", "text")
    State(
      index,
      DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"),
      Some(Urls.idWatermark(docs, "doc_id")),
      Some(MinHash.bandIndexOf(index, "doc_id")))
  }

  /** Bootstrap [[JaccardState]]: same journey under the exact-Jaccard
    * dedup flavor, side-tables included. */
  def jaccardStateOf(
      docs: DataFrame,
      minQuality: Double = 0.5,
      jaccardThreshold: Double = 0.1,
      maxDf: Int = 50): JaccardState = {
    val gated = CurationPipeline.gate(CurationPipeline.score(docs), minQuality)
    val index = MinHash.shingleIndex(gated, "doc_id", "text")
    val pairs = Jaccard.nearDuplicates(gated, "doc_id", "text",
      threshold = jaccardThreshold, maxDf = maxDf)
    JaccardState(
      index,
      Jaccard.indexDfs(index),
      Jaccard.indexSizes(index, "doc_id"),
      DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"),
      Some(Urls.idWatermark(docs, "doc_id")))
  }

  /** The shared gate + incremental-keep tail of [[step]] /
    * [[stepJaccard]]: survivors of the new batch under the updated
    * labels, plus the revoked old keeps. A new doc survives iff it is
    * its merged component's minimum; `revoked` is the OLD-side keep
    * delta ([[DedupClusters.updateComponentsWithRevokedKeeps]]) — an
    * increment can bridge two old components, flipping the
    * larger-labeled component's previously-emitted canonical to
    * dropped (monotone ids do NOT prevent this; a consumer chaining
    * daily survivor sets must subtract `revoked` or it silently
    * retains docs a batch run would drop). */
  private def keepStep(
      gatedNew: DataFrame,
      oldLabels: DataFrame,
      newPairs: DataFrame): (DataFrame, DataFrame, DataFrame, DedupClusters.LabelUpdate) = {
    val update = DedupClusters.labelUpdateOf(oldLabels, newPairs)
    val labels = update.applyTo(oldLabels)
    val revoked = update.revoked(gatedNew.select(col("doc_id")))
    // a new doc survives iff it is its merged component's minimum —
    // read the decision off the increment's own update rows, not the
    // full merged table (newRows covers every labeled NEW doc; an
    // unlabeled new doc is a singleton and always survives)
    val dropped = update.newRows.toDF("doc_id", "__comp")
      .filter(col("__comp") =!= col("doc_id"))
      .select(col("doc_id"))
    val survivors = gatedNew.join(dropped, Seq("doc_id"), "left_anti")
    (survivors, revoked.toDF("doc_id"), labels, update)
  }

  /** One daily step of [[CurationPipeline.run]]'s stages 1–4: score →
    * gate → incremental near-dup pairs → incremental keep decision.
    * Returns `(survivors, revoked, nextState)`: the batch's curated
    * survivors (with the batch pipeline's score columns), the
    * previously-emitted OLD survivors this increment retracts (see
    * [[keepStep]] — subtract them from any accumulated survivor set),
    * and the advanced [[State]]. Chunking/packing/mixing compose
    * downstream exactly as in the batch pipeline.
    *
    * Contract: batch ids must be DISJOINT from the at-rest corpus
    * (the watermark enforces the stronger monotone form fail-fast
    * when carried); given disjoint ids the survivor/revoked identity
    * is exact with NO ordering assumption — the min-label keep rule
    * is order-independent, and retractions are surfaced, not
    * assumed away. */
  def step(
      newDocs: DataFrame,
      state: State,
      minQuality: Double = 0.5,
      dupThreshold: Double = 0.8,
      maxBucket: Option[Int] = Some(10000),
      scope: CacheScope = CacheScope.untracked): (DataFrame, DataFrame, State) = {
    val r = stepDetailed(newDocs, state, minQuality, dupThreshold, maxBucket, scope)
    (r.survivors, r.revoked, r.nextState)
  }

  /** Everything [[step]] computes, with the internal relations a
    * DURABLE store needs exposed instead of discarded:
    *
    *  - `gated` — the scored+gated batch ([[step]]'s own persisted
    *    pass; reuse it for the state-advance appends instead of
    *    re-scoring the raw batch);
    *  - `update` — the increment's [[DedupClusters.LabelUpdate]]
    *    (remap + new rows), from which [[DedupClusters.LabelUpdate
    *    .delta]] derives the increment-sized label-table delta a
    *    partition-scoped store writes in place of the full merged
    *    table (`nextState.labels` is that full merge — corpus-sized
    *    to materialize).
    *
    * Same contract and outputs as [[step]] otherwise. */
  final case class StepResult(
      survivors: DataFrame,
      revoked: DataFrame,
      nextState: State,
      gated: DataFrame,
      update: DedupClusters.LabelUpdate)

  def stepDetailed(
      newDocs: DataFrame,
      state: State,
      minQuality: Double = 0.5,
      dupThreshold: Double = 0.8,
      maxBucket: Option[Int] = Some(10000),
      scope: CacheScope = CacheScope.untracked): StepResult = {
    val guarded = state.maxId
      .map(w => Urls.requireMonotone(newDocs, "doc_id", w, "IncrementalCuration.step"))
      .getOrElse(newDocs)
    // persist the scored batch: it feeds the pair generation, the
    // survivor anti-join, and the state-advance index rows — without
    // it each consumer re-runs score/gate (and the watermark guard's
    // assert scan) over the raw batch. Increment-sized by contract;
    // registered with `scope` so per-batch callers can unpersist
    // after materializing.
    val gatedNew = scope.persist(
      CurationPipeline.gate(CurationPipeline.score(guarded), minQuality))
    val newPairs = MinHash.nearDuplicatesIncremental(
      gatedNew, "doc_id", "text", state.shingleIndex,
      threshold = dupThreshold, maxBucket = maxBucket,
      sideTables = state.bands, scope = scope)
      .select(col("id_a"), col("id_b"))
    val (survivors, revoked, labels, update) =
      keepStep(gatedNew, state.labels, newPairs)
    val newIndex = MinHash.shingleIndex(gatedNew, "doc_id", "text")
    val nextState = State(
      state.shingleIndex.unionByName(newIndex),
      labels,
      advance(state.maxId, newDocs, "doc_id"),
      state.bands.map(bi => MinHash.bandIndexAdd(bi, newIndex, "doc_id")))
    StepResult(survivors, revoked, nextState, gatedNew, update)
  }

  /** [[step]] under the exact n-gram Jaccard flavor — every stage
    * increment-sized: pairing reads the at-rest index through the
    * df/size side-tables (no linear index pass), the keep decision is
    * the same contraction CC, and state advancement is increment-ADD
    * (dfs summed per shingle hash, sizes appended — ids are disjoint
    * by contract). */
  def stepJaccard(
      newDocs: DataFrame,
      state: JaccardState,
      minQuality: Double = 0.5,
      jaccardThreshold: Double = 0.1,
      maxDf: Int = 50,
      scope: CacheScope = CacheScope.untracked): (DataFrame, DataFrame, JaccardState) = {
    val guarded = state.maxId
      .map(w => Urls.requireMonotone(newDocs, "doc_id", w, "IncrementalCuration.stepJaccard"))
      .getOrElse(newDocs)
    // persisted for the same three consumers as [[step]]'s
    val gatedNew = scope.persist(
      CurationPipeline.gate(CurationPipeline.score(guarded), minQuality))
    val newPairs = Jaccard.nearDuplicatesIncremental(
      gatedNew, "doc_id", "text", state.shingleIndex,
      threshold = jaccardThreshold, maxDf = maxDf,
      sideTables = Some((state.dfs, state.sizes)))
      .select(col("id_a"), col("id_b"))
    val (survivors, revoked, labels, _) = keepStep(gatedNew, state.labels, newPairs)
    val newIndex = MinHash.shingleIndex(gatedNew, "doc_id", "text")
    val nextState = JaccardState(
      state.shingleIndex.unionByName(newIndex),
      state.dfs.unionByName(Jaccard.indexDfs(newIndex))
        .groupBy(col("h")).agg(sum(col("df")).as("df")),
      state.sizes.unionByName(Jaccard.indexSizes(newIndex, "doc_id")),
      labels,
      advance(state.maxId, newDocs, "doc_id"))
    (survivors, revoked, nextState)
  }

  /** At-rest corpus-level line-dedup state: the per-line-hash
    * occurrence counts ([[LineDedup.lineCounts]] — the ban rule's
    * input) and the (line-hash → doc) inverted index
    * ([[LineDedup.lineIndex]] — what resolves an increment's
    * newly-banned hashes to the OLD documents needing a rewrite).
    * Both advance by increment-ADD; neither needs an ordering
    * contract (the ban rule is a symmetric count). */
  final case class LineState(counts: DataFrame, index: DataFrame)

  /** Bootstrap [[LineState]] from an accumulated corpus. */
  def lineStateOf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): LineState =
    LineState(
      LineDedup.lineCounts(docs, textCol),
      LineDedup.lineIndex(docs, idCol, textCol))

  /** Incremental [[CurationPipeline.c4Clean]]-adjacent line-dedup
    * step — BOTH halves of the increment's effect: the NEW batch
    * cleaned against the at-rest counts
    * ([[LineDedup.dedupLinesIncremental]]) and the OLD-document
    * rewrites the increment forces, resolved through the at-rest
    * inverted index ([[LineDedup.rewritesIncremental]] — bounded by
    * `maxOccurrences · |newly-banned hashes|`, never a corpus pass).
    * `oldDocs` is read ONLY through an id-keyed semi-join against
    * that increment-bounded affected set (id-partition-prunable at
    * rest). Returns `(cleanedNew, oldRewrites, nextState)`; applying
    * the rewrites to the stored corpus keeps it identical to a batch
    * [[LineDedup.dedupLines]] over everything seen (spec-pinned in
    * IncrementalCurationSpec). Ids need only be DISJOINT across
    * batches (re-submitted ids would double-count their lines). */
  def lineDedupStep(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      state: LineState,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxOccurrences: Long = 2L): (DataFrame, DataFrame, LineState) = {
    val cleaned = LineDedup.dedupLinesIncremental(
      newDocs, state.counts, idCol, textCol, maxOccurrences)
    val rewrites = LineDedup.rewritesIncremental(
      oldDocs, state.index, state.counts, newDocs, idCol, textCol, maxOccurrences)
    val nextState = LineState(
      state.counts.unionByName(LineDedup.lineCounts(newDocs, textCol))
        .groupBy(col("h")).agg(sum(col("cnt")).as("cnt")),
      state.index.unionByName(LineDedup.lineIndex(newDocs, idCol, textCol)))
    (cleaned, rewrites, nextState)
  }
}
