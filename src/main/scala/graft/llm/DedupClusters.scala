package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dedup clustering: connected components over a near-duplicate pair
  * list, then canonical-representative selection — the step that turns
  * pairwise dedup output ([[MinHash.nearDuplicates]], [[SimHash]],
  * [[Jaccard]]) into an actionable keep/drop decision per document.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labelled with its own id; each round every node adopts the minimum
  * label among itself and its neighbors; at fixpoint each component is
  * labelled with its minimum member id (the canonical doc).
  *
  * Scale shape (the 100 TB story):
  *  - each round is ONE shuffle keyed on node id (a join edge.dst →
  *    label + a min groupBy) — no all-pairs work, no driver-side graph;
  *  - the edge list is persisted once and reused every round;
  *  - labels are `localCheckpoint`ed per round so the iterative lineage
  *    does not grow (the same trick GraphX/Pregel uses);
  *  - rounds needed = component diameter. Near-dup components are
  *    clique-ish (diameter ≤ 3 in practice), so 3-4 rounds close. A
  *    corpus with adversarially long duplicate *chains* would want the
  *    large-star/small-star variant (Kiveris et al., "Connected
  *    Components in MapReduce", SoCC'14) whose round count is
  *    O(log n) — same per-round shuffle shape, more involved emit rule;
  *  - the driver loop only checks a 1-row existence aggregate per
  *    round (`changed.isEmpty`), never collects data.
  *
  * No counterpart in the reference repo (sports tracking); this comes
  * from the engine brief's training-data curation requirements.
  */
object DedupClusters {

  /** Connected components of the undirected graph given as a pair list.
    * Output: one row per node appearing in any pair — `(node, component)`
    * where `component` is the minimum node id in its component.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    // symmetric edge list, self-loops dropped, persisted once for reuse
    // across every propagation round
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = edges.select(col("src").as("node"))
      .distinct()
      .withColumn("component", col("node"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; min over {self} ∪ neighbors
      val neighborLabels = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("component"))
      val next = labels.union(neighborLabels)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("o"), "node")
        .filter(col("n.component") =!= col("o.component"))
        .limit(1)
      converged = changed.isEmpty
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — component " +
        "diameter exceeds the cap; raise maxIter or switch to a " +
        "large-star/small-star formulation for chain-shaped duplicate graphs")
    labels
  }

  /** The GraphX formulation of [[connectedComponents]] — same
    * contract (labels = minimum member id, one row per node appearing
    * in a non-self pair), computed by
    * `org.apache.spark.graphx.lib.ConnectedComponents` (Pregel min-
    * label propagation over the library's edge-partitioned graph).
    *
    * Measured head-to-head on the real minhash near-dup graph
    * (SCALING.md row `cc-graphx`, min-of-2 with a stage-metrics listener):
    * GraphX wins at both scales — 0.32 s vs 1.12 s at sf0.1 (256
    * pairs) and 0.58 s vs 2.27 s at sf1 (250k pairs, 50k nodes), with
    * 6.6× less shuffle read — Pregel's per-partition routing tables
    * beat the relational loop's per-round join + localCheckpoint
    * overhead on these clique-ish graphs. GraphX therefore serves
    * every integral-id caller ([[componentsOf]]); the relational loop
    * serves non-integral node ids and stays the label-for-label
    * cross-check (GraphXBridgeSpec).
    *
    * Requires integral node ids (GraphX VertexId = Long).
    *
    * Runs to the Pregel fixed point by default (`maxIter =
    * Int.MaxValue`): a capped run silently returns
    * partially-propagated labels when a component's diameter exceeds
    * the cap — exactly the chain-shaped duplicate graphs the
    * relational loop fails loudly on — so the default must never
    * under-iterate. Pregel stops as soon as no label changes, so the
    * uncapped call costs O(diameter) supersteps, not Int.MaxValue. */
  def connectedComponentsGraphX(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = Int.MaxValue): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .filter(col(aCol) =!= col(bCol))
      .as[(Long, Long)].rdd
      .map { case (a, b) => org.apache.spark.graphx.Edge(a, b, ()) }
    val graph = org.apache.spark.graphx.Graph.fromEdges(edges, ())
    org.apache.spark.graphx.lib.ConnectedComponents
      .run(graph, maxIter)
      .vertices.toDF("node", "component")
  }

  /** Full dedup decision table for a near-dup pair list over `docs`:
    * every document, its cluster id (minimum doc id of its near-dup
    * component; singletons are their own cluster), and whether it is
    * the canonical representative to keep.
    */
  def keepTable(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val comps = componentsOf(pairs, aCol, bCol).withColumnRenamed("node", idCol)
    decide(docs, comps, idCol)
  }

  /** Connected components by the pair id type: GraphX for integral ids
    * (SCALING.md row `cc-graphx`: 3.4–3.9× faster, ~6× less shuffle
    * on the real near-dup graphs at both soak scales), the relational
    * loop for any other
    * type, whose ids GraphX's `cast("long")` would reject under ANSI
    * or null out without it. Labels are identical either way
    * (GraphXBridgeSpec), so the oracle replay is
    * implementation-independent. */
  private def componentsOf(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    if (Similarity.isIntegralId(pairs.schema(aCol).dataType) &&
        Similarity.isIntegralId(pairs.schema(bCol).dataType))
      connectedComponentsGraphX(pairs, aCol, bCol)
    else connectedComponents(pairs, aCol, bCol)

  /** The keep/drop decision tail shared by [[keepTable]] and
    * [[keepTableIncremental]]: left-join the component labels onto the
    * doc universe, singletons become their own cluster, minimum member
    * is kept. */
  private def decide(docs: DataFrame, comps: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .withColumn("keep", col("cluster_id") === col(idCol))
      .select(col(idCol), col("cluster_id"), col("keep"))

  /** The contraction core of the incremental family: given the at-rest
    * label table and a batch of NEW pairs, computes
    *  - `remap` — (old component label → merged component label) for
    *    every old component the increment touches AND changes, and
    *  - `newRows` — (node, component) for previously-unlabeled nodes
    *    the increment links (new docs, or old singletons a new pair
    *    reaches).
    *
    * Correctness rests on graph contraction: the connected components
    * of `oldEdges ∪ newPairs` equal the components of the graph where
    * every old component is contracted to a super-node, with the new
    * pairs mapped through the contraction — expanded back. Because the
    * at-rest labels are MINIMUM member ids (the [[connectedComponents]]
    * invariant, preserved inductively here), the min label over the
    * contracted graph IS the min member id of the merged component.
    *
    * Scale shape (the whole point): every relation here is
    * increment-sized — the contracted graph has ≤ 2·|newPairs| nodes —
    * EXCEPT one broadcast semi-join pass over the at-rest table to
    * fetch the touched labels, which never shuffles the corpus side.
    * The accumulated pair set is never read at all. */
  private def incrementalRemap(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String,
      bCol: String): (DataFrame, DataFrame) = {
    // MATERIALIZE the edge relation (eager localCheckpoint): it is
    // increment-sized by contract (safe at any corpus scale) and
    // feeds every downstream branch — endpoints, the contracted
    // graph, remap, newRows. A consumer materializing survivors AND
    // revoked AND the advanced state would otherwise re-run the whole
    // upstream PAIR GENERATION (banded LSH join — the expensive
    // subtree) once per branch: measured 9× slower than the batch
    // bootstrap at the sf1 journey soak. A lazy `.persist()` does NOT
    // fix it — under AQE the cache registers but never fills when the
    // first consumer is GraphX's `.rdd` scan (verified via
    // getRDDStorageInfo: 0 cached partitions, warm re-reads re-paying
    // the join) — so the checkpoint is eager, the same
    // materialization boundary the spec and production put between
    // steps. Blocks are GC-cleaned once the step's DataFrames go
    // unreferenced, so per-micro-batch callers
    // (StreamingDedupClusters) don't leak.
    val e = newPairs.select(col(aCol).as("__src"), col(bCol).as("__dst"))
      .filter(col("__src") =!= col("__dst"))
      .distinct()
      .localCheckpoint()
    val endpoints = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct()
    // touched labels: increment-sized output, ONE map-side pass over
    // the at-rest table (the endpoint set broadcasts)
    val touched = oldLabels
      .join(Guards.broadcastBounded(endpoints), Seq("node"), "left_semi")
      .select(col("node"), col("component"))
    val tA = touched.select(col("node").as("__src"), col("component").as("__ca"))
    val tB = touched.select(col("node").as("__dst"), col("component").as("__cb"))
    val contracted = e
      .join(Guards.broadcastBounded(tA), Seq("__src"), "left")
      .join(Guards.broadcastBounded(tB), Seq("__dst"), "left")
      .select(coalesce(col("__ca"), col("__src")).as("__u"),
        coalesce(col("__cb"), col("__dst")).as("__v"))
    // CC over the increment-sized contracted graph (self-loops — both
    // endpoints already in one old component — drop inside)
    val cc = componentsOf(contracted, "__u", "__v")
    // contracted node ids partition cleanly: old component labels
    // (values of touched.component) vs previously-unlabeled node ids
    val oldCn = touched.select(col("component").as("node")).distinct()
    val remap = cc.join(Guards.broadcastBounded(oldCn), Seq("node"), "left_semi")
      .filter(col("node") =!= col("component")) // unchanged components drop out
      .select(col("node").as("__oldc"), col("component").as("__newc"))
    val newRows = cc.join(Guards.broadcastBounded(oldCn), Seq("node"), "left_anti")
      .select(col("node"), col("component"))
    (remap, newRows)
  }

  /** INCREMENTAL label maintenance — the at-rest side of the
    * incremental dedup journey ([[MinHash.nearDuplicatesIncremental]],
    * [[BandedHamming.nearDuplicatesIncremental]] generate the pairs;
    * this keeps the component labels current WITHOUT re-running
    * connected components over the full accumulated pair set).
    *
    * `oldLabels` is a (node, component) table produced by
    * [[connectedComponents]] / [[connectedComponentsGraphX]] / a prior
    * call here (the min-member-label invariant is required and
    * preserved); `newPairs` is the increment's pair list — new×old,
    * new×new, even old×old pairs all work. Returns the FULL updated
    * label table: identical, row for row, to recomputing
    * [[connectedComponents]] over the union of all pairs ever seen
    * (IncrementalCcSpec pins the identity on random multi-increment
    * graphs).
    *
    * Scale shape: the CC runs on the contracted increment-sized graph
    * (≤ 2·|newPairs| nodes); the at-rest table pays exactly two
    * map-side broadcast-join passes (fetch touched labels, apply the
    * remap) and is never shuffled — at a 100 TB corpus with a
    * 0.1%-daily increment, the label pass scales with the increment,
    * not the corpus. For partition-scoped rewrites of a stored label
    * table, [[componentDelta]] emits only the rows that change.
    *
    * EAGER-evaluation caveat: this call (and every sibling routing
    * through the contraction core) materializes the increment's edge
    * relation via `localCheckpoint` AT CALL TIME — Spark jobs for the
    * pair-generation subtree run immediately, not at the first
    * downstream action. Deliberate (a lazy plan re-executed the
    * banded-LSH join once per consuming branch — measured 9× at the
    * sf1 journey soak; `.persist()` never fills under AQE+GraphX,
    * see the in-code note), but it changes the usual laziness
    * contract, and localCheckpoint blocks are NON-RELIABLE executor
    * memory: an executor loss makes the step's outputs unrecoverable
    * (no lineage) — the step must re-run from its inputs. A
    * production daily job that cannot simply re-run should persist
    * the increment's pairs to reliable storage first (they are
    * increment-sized) and pass THAT relation here — which also makes
    * the materialization boundary caller-controlled. */
  def updateComponents(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    labelUpdateOf(oldLabels, newPairs, aCol, bCol).applyTo(oldLabels)

  /** The increment's label update as a VALUE — the two increment-sized
    * relations [[incrementalRemap]] computes, with the three ways of
    * consuming them as methods: [[LabelUpdate.applyTo]] (the full
    * merged table, [[updateComponents]]'s output), [[LabelUpdate
    * .delta]] (changed+new rows only — what a partition-scoped label
    * store writes per trigger), and [[LabelUpdate.revoked]] (the
    * retracted old keeps). One contraction-CC pass serves all three;
    * the relations are already materialized (the eager localCheckpoint
    * documented on [[updateComponents]]), so consuming them repeatedly
    * never re-runs the pair generation. */
  final case class LabelUpdate(remap: DataFrame, newRows: DataFrame) {

    /** The FULL merged label table: one broadcast-join map pass
      * relabels merged components, new rows append. Corpus-sized to
      * materialize — durable stores write [[delta]] instead. */
    def applyTo(oldLabels: DataFrame): DataFrame =
      oldLabels
        .join(Guards.broadcastBounded(remap), col("component") === col("__oldc"), "left")
        .select(col("node"), coalesce(col("__newc"), col("component")).as("component"))
        .unionByName(newRows)

    /** The CHANGED rows only (see [[componentDelta]]): old rows whose
      * component merged with a smaller one (re-labeled), plus the
      * previously-unlabeled nodes the increment links. Output is
      * increment-sized; reading `oldLabels` costs one broadcast-join
      * map pass (never a shuffle of the corpus side). */
    def delta(oldLabels: DataFrame): DataFrame =
      oldLabels
        .join(Guards.broadcastBounded(remap), col("component") === col("__oldc"))
        .select(col("node"), col("__newc").as("component"))
        .unionByName(newRows)

    /** The revoked-keep set (see
      * [[updateComponentsWithRevokedKeeps]] for the derivation):
      * merged old canonicals plus old singletons linked under a
      * smaller id — `newNodes` (the increment's own ids) is what
      * tells the latter apart from new docs. */
    def revoked(newNodes: DataFrame): DataFrame =
      remap.select(col("__oldc").as("node"))
        .unionByName(newRows
          .filter(col("node") =!= col("component"))
          .join(Guards.broadcastBounded(newNodes.toDF("node")), Seq("node"), "left_anti")
          .select(col("node")))
  }

  /** One contraction pass → the reusable [[LabelUpdate]]. */
  def labelUpdateOf(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): LabelUpdate = {
    val (remap, newRows) = incrementalRemap(oldLabels, newPairs, aCol, bCol)
    LabelUpdate(remap, newRows)
  }

  /** [[updateComponents]] PLUS the revoked-keep delta, from ONE
    * contraction pass: `(labels, revoked)` where `revoked` is every
    * node that was a kept canonical (its component's minimum — or an
    * unlabeled singleton) BEFORE the increment and is not after it.
    * This is the retraction signal a consumer chaining daily survivor
    * sets needs: without it, accumulated survivors silently retain
    * docs a batch run would drop whenever an increment BRIDGES two
    * old components (the larger label's canonical flips to dropped —
    * monotone ids do NOT prevent this).
    *
    * Two increment-sized row classes, no corpus pass beyond
    * [[updateComponents]]'s own:
    *  - merged old canonicals: every remap key `__oldc` is, by the
    *    min-label invariant, a node whose at-rest row is
    *    (node, node) — currently kept — and its new label is strictly
    *    smaller, so it flips;
    *  - old singletons the increment links under a smaller id: rows
    *    of `newRows` with `component != node` that are NOT the
    *    increment's own nodes. `newNodes` (one column, the increment
    *    batch's node ids — increment-sized, broadcast like the
    *    endpoint set) is what tells them apart from new docs, which
    *    were never previously kept and so never revoke.
    *
    * Identity (spec-pinned in IncrementalCcSpec): revoked =
    * keeps(before) ∩ nodes \ keeps(after), for keeps = { n : label(n)
    * = n or n unlabeled }. Requires only DISJOINT ids between the
    * at-rest corpus and `newNodes` — no monotone-id assumption. */
  def updateComponentsWithRevokedKeeps(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      newNodes: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): (DataFrame, DataFrame) = {
    val u = labelUpdateOf(oldLabels, newPairs, aCol, bCol)
    (u.applyTo(oldLabels), u.revoked(newNodes))
  }

  /** The CHANGED rows only of [[updateComponents]]: old rows whose
    * component label moves (their component merged with a smaller one)
    * plus the previously-unlabeled nodes the increment links. With the
    * at-rest label table stored partitioned/bucketed by component,
    * this is exactly the partition-rewrite set — the full-table scan
    * of [[updateComponents]] disappears from the daily increment. */
  def componentDelta(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    labelUpdateOf(oldLabels, newPairs, aCol, bCol).delta(oldLabels)

  /** [[keepTable]] served from the incremental label update: the full
    * keep/drop decision for `docs` after an increment, with the
    * component labels maintained by [[updateComponents]] instead of a
    * full recompute. Identical output to
    * `keepTable(docs, allPairsEverSeen, …)`. */
  def keepTableIncremental(
      docs: DataFrame,
      oldLabels: DataFrame,
      newPairs: DataFrame,
      idCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val comps = updateComponents(oldLabels, newPairs, aCol, bCol)
      .withColumnRenamed("node", idCol)
    decide(docs, comps, idCol)
  }
}
