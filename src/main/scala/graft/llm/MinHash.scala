package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MinHash signatures + banded LSH for near-duplicate detection at scale.
  *
  * Pipeline (all relational — designed for the 100 TB path):
  *
  *  1. [[signatures]] — explode each document's distinct shingles, hash
  *     them once, and fold `numHashes` permuted minima in ONE partial-agg
  *     groupBy (map-side combine keeps the shuffle at one row per
  *     document, independent of document length).
  *  2. [[candidatePairs]] — banded LSH: the signature is cut into
  *     `bands` bands of `rows` values; documents colliding on a whole
  *     band become candidates. The band key IS the shuffle key — a
  *     self-equi-join per band, never an all-pairs product. With b=4,
  *     r=3 the collision curve crosses ~(1/b)^(1/r) ≈ 0.63 Jaccard.
  *  3. [[nearDuplicates]] — exact Jaccard verification, but ONLY on the
  *     candidate pairs: shingle-hash semi-join, intersection counts via
  *     groupBy, never materializing full cross products.
  *
  * At 1000 executors each stage is a plain shuffle on (band, key) or
  * (doc pair) keys; skew is bounded because a band bucket of k docs
  * costs k² only within that bucket (salt the band key if a degenerate
  * corpus makes one bucket huge).
  *
  * Semantics follow the standard MinHash/LSH construction (Broder 1997);
  * the reference repo has no dedup surface — this family comes from the
  * engine brief's training-data-pipeline requirements.
  */
object MinHash {
  import TextHash.Prime

  /** Fixed permutation constants: mh_i(h) = (A(i)*h + B(i)) mod Prime. */
  val A: Seq[Long] = Seq(7L, 23L, 61L, 89L, 127L, 199L, 283L, 397L, 541L, 691L, 829L, 983L)
  val B: Seq[Long] = Seq(11L, 37L, 71L, 101L, 151L, 223L, 311L, 433L, 577L, 719L, 863L, 1013L)
  val NumHashes: Int = 12
  val Bands: Int = 4
  val Rows: Int = 3

  /** Distinct (id, shingle hash) pairs for a document table. The token
    * array is materialized in its own projection before the shingle
    * step — interpreted HOF lambdas re-evaluate embedded subtrees per
    * element, so a fused form would re-tokenize the document once per
    * shingle (O(tokens²) per doc).
    *
    * r18: the shingle step is the native one-pass
    * [[graft.functions.ShingleArray]] instead of the interpreted
    * `transform(sequence)/slice/array_join` + `array_distinct` chain —
    * value-identical (ShingleArraySpec property test), several times
    * cheaper per execution, and this subtree re-executes once per plan
    * consumer in the dedup family (the signature/sizes/verify branches
    * AQE-broadcasts can't share), so the per-task saving multiplies. */
  def shingleHashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      hash: Column => Column): DataFrame =
    docs
      .select(col(idCol), Shingles.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(graft.functions.TextExpressions.shingleArrayNative(
          col("__toks"), n)).as("shingle"))
      .select(col(idCol), hash(col("shingle")).as("h"))

  /** One row per document: `idCol, mh0..mh{numHashes-1}`. Documents with
    * zero shingles (shorter than n tokens) are absent. */
  def signatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      hash: Column => Column = TextHash.polyHash,
      numHashes: Int = NumHashes): DataFrame = {
    require(numHashes >= 1 && numHashes <= A.length,
      s"numHashes=$numHashes needs 1..${A.length} fixed permutations")
    val sh = shingleHashes(docs, idCol, textCol, n, hash)
    signaturesFromHashes(sh, idCol, numHashes)
  }

  /** The one copy of the permuted-minima fold: aggregates a
    * (id, shingle-hash) table into `idCol, mh0..mh{numHashes-1}` with a
    * single partial-agg groupBy. [[signatures]] and [[nearDuplicates]]
    * both build on this so the min-hash formula exists exactly once. */
  private[graft] def signaturesFromHashes(
      sh: DataFrame,
      idCol: String,
      numHashes: Int): DataFrame = {
    require(numHashes >= 1 && numHashes <= A.length,
      s"numHashes=$numHashes needs 1..${A.length} fixed permutations")
    sh.groupBy(col(idCol))
      .agg(
        min((col("h") * A(0) + B(0)) % Prime).as("mh0"),
        (1 until numHashes).map(i =>
          min((col("h") * A(i) + B(i)) % Prime).as(s"mh$i")): _*)
  }

  /** One (id, band, key) row per document per band — the projection
    * both the LSH join ([[candidatePairs]]) and the cost measurement
    * ([[bandCostTable]]) bucket on, kept in one place so the measured
    * cost is the cost of the join that will actually run. */
  private[graft] def bandKeyRows(
      sig: DataFrame,
      idCol: String,
      bands: Int,
      rows: Int): DataFrame =
    // ONE explode over an array of band structs instead of a per-band
    // union of projections (optimization round 17): the union gave each
    // band its own copy of the signature subtree with its own column
    // pruning, so none of the exchanges matched and the whole
    // scan→shingle→signature pipeline re-executed once per band per
    // consumer (24 parquet scans in q_doc_minhash_dedup's plan). With
    // the explode, every consumer projects the SAME (id, mh0..mhN)
    // signature relation, and ReusedExchange serves them from one
    // shuffle write. Row order within the band key is irrelevant (the
    // join/count consumers are order-insensitive); values identical.
    sig.select(
      col(idCol),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          struct((0 until rows).map(r =>
            col(s"mh${b * rows + r}").as(s"k$r")): _*).as("key"))
      }: _*)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("band"), col("__bk.key").as("key"))

  /** Banded-LSH candidate pairs (id_a < id_b), distinct across bands.
    *
    * `maxBucket` is the degenerate-corpus guard: a band bucket of k
    * docs emits k² candidate work, so one pathological bucket (e.g. a
    * boilerplate page repeated millions of times) would concentrate a
    * quadratic blowup on a single key. Buckets larger than the cap are
    * dropped from candidate generation entirely — their members are
    * still compared through their OTHER bands (the standard LSH
    * treatment, same shape as [[Jaccard]]'s document-frequency cap). */
  def candidatePairs(
      sig: DataFrame,
      idCol: String,
      maxBucket: Option[Int] = None,
      bands: Int = Bands,
      rows: Int = Rows): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= A.length,
      s"bands=$bands rows=$rows needs bands*rows in 1..${A.length}")
    val bandRows = bandKeyRows(sig, idCol, bands, rows)
    // skew-safe guard shape (see BandedHamming.dropOverCap): a partial
    // aggregation counts bucket sizes map-side and a broadcast
    // anti-join drops the over-cap keys — the hot bucket never lands
    // on one task just to be counted
    val capped = maxBucket match {
      case Some(m) => BandedHamming.dropOverCap(bandRows, Seq("band", "key"), m)
      case None => bandRows
    }
    val l = capped.toDF(Seq("id_a", "band", "key"): _*)
    val r = capped.toDF(Seq("id_b", "band", "key"): _*)
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Candidate pairs with exact shingle-set Jaccard, kept when
    * `jaccard >= threshold`. Output: id_a, id_b, inter, size_a, size_b,
    * jaccard (exact rational arithmetic until the final division).
    *
    * `maxBucket` reaches the internal [[candidatePairs]] call, so the
    * degenerate-bucket guard bounds the quadratic join itself — not
    * just the output. */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.2,
      hash: Column => Column = TextHash.polyHash,
      maxBucket: Option[Int] = None,
      bands: Int = Bands,
      rows: Int = Rows): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= A.length,
      s"bands=$bands rows=$rows needs bands*rows in 1..${A.length}")
    // The distinct (id, shingle-hash) table feeds four consumers
    // (signatures, sizes, both intersection sides). ReusedExchange
    // cannot serve all of them from one shuffle write (AQE broadcasts
    // the verify-side joins, and a broadcast side reuses no shuffle
    // stage), so parts of the scan → tokenize → shingle pipeline
    // re-execute per consumer. Measured A/B (r17, sf0.1, honest sink,
    // min-of-3 × 3 JVMs): persisting this table costs MORE than the
    // re-scans save — 2.2–3.7 s cached vs 1.6–1.8 s uncached — because
    // the cache write + the AQE-cache partitioning loss outweigh
    // re-reading a small input. At warehouse scale the duplicate-scan
    // problem is solved structurally instead: the at-rest shingle
    // index ([[shingleIndex]] + [[nearDuplicatesIncremental]]'s
    // BucketedStore serve) makes every consumer read a bucketed table.
    val sh = shingleHashes(docs, idCol, textCol, n, hash).distinct()
    val sigs = signaturesFromHashes(sh, idCol, bands * rows)
    val pairs = candidatePairs(sigs, idCol, maxBucket, bands, rows)
    exactJaccardVerify(sh, idCol, pairs, threshold)
  }

  /** The one copy of the exact-Jaccard verification tail: candidate
    * pairs × a distinct (id, h) shingle table → the
    * (id_a, id_b, inter, size_a, size_b, jaccard ≥ threshold) output.
    * [[nearDuplicates]] ends here; the incremental arm uses the
    * role-split twin [[exactJaccardVerifySplit]] (same arithmetic,
    * different join tree) so the corpus-side relations are never
    * unioned away from their storage partitioning. */
  private[graft] def exactJaccardVerify(
      sh: DataFrame,
      idCol: String,
      pairs: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.toDF("id_a", "h"), "id_a")
      .join(sh.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    scoreAndThreshold(inter
      .join(sizes.toDF("id_a", "size_a"), "id_a")
      .join(sizes.toDF("id_b", "size_b"), "id_b"), threshold)
  }

  /** Shared (inter, size_a, size_b) → thresholded-jaccard tail: the
    * arithmetic exists exactly once for both verify join trees. */
  private def scoreAndThreshold(withSizes: DataFrame, threshold: Double): DataFrame =
    withSizes
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** The ROLE-SPLIT exact-Jaccard verify of the incremental arm —
    * bit-identical output to [[exactJaccardVerify]] over
    * `shNew ∪ shOld` with the canonicalized pair union (ids disjoint
    * by the incremental contract), but every join that touches a
    * CORPUS-SIZED relation (`shOld`, `szOld`) keys on that relation's
    * own id (`shOld` additionally on `h`) with no union upstream, so
    * its storage partitioning survives to the join: store the shingle
    * index bucketed by (id, h) and the sizes by id
    * ([[graft.core.BucketedStore]]) and the verify stage runs with
    * ZERO exchange on the corpus side — the candidate side (pairs ×
    * the increment's shingles) is increment-sized and shuffles into
    * the bucket partitioning. The pre-split shape unioned
    * `shNew ∪ shOld` before joining, which discarded the stored
    * layout and shuffled the full index TWICE per step — the last
    * corpus-tracking term in the composed daily journey
    * (SCALING.md row `journey-ladder`).
    *
    * `pairsNO` carries roles — (id_n ∈ new, id_o ∈ old), distinct;
    * `pairsNN` is canonical (id_a < id_b), distinct. Role-disjoint
    * ids mean the two sets cannot overlap, so their union needs no
    * re-distinct. Canonicalization happens AFTER the size lookups,
    * mapping (size_n, size_o) to (size_a, size_b) by id order. */
  private def exactJaccardVerifySplit(
      shNew: DataFrame,
      szNew: DataFrame,
      shOld: DataFrame,
      szOld: DataFrame,
      pairsNO: DataFrame,
      pairsNN: DataFrame,
      threshold: Double): DataFrame = {
    val interNO = pairsNO
      .join(shNew.toDF("id_n", "h"), "id_n")
      .join(shOld.toDF("id_o", "h"), Seq("id_o", "h"))
      .groupBy(col("id_n"), col("id_o"))
      .agg(count(lit(1)).as("inter"))
      .join(szNew.toDF("id_n", "size_n"), "id_n")
      .join(szOld.toDF("id_o", "size_o"), "id_o")
      .select(
        least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"),
        col("inter"),
        when(col("id_n") < col("id_o"), col("size_n"))
          .otherwise(col("size_o")).as("size_a"),
        when(col("id_n") < col("id_o"), col("size_o"))
          .otherwise(col("size_n")).as("size_b"))
    val interNN = pairsNN
      .join(shNew.toDF("id_a", "h"), "id_a")
      .join(shNew.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(szNew.toDF("id_a", "size_a"), "id_a")
      .join(szNew.toDF("id_b", "size_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"))
    scoreAndThreshold(interNO.unionByName(interNN), threshold)
  }

  /** The AT-REST dedup index of a corpus: its distinct (id, shingle
    * hash) rows — everything incremental dedup ever needs about the
    * indexed side (signatures and band keys re-derive from it with
    * one type-sized groupBy; exact-Jaccard verification reads it
    * directly). Write it once — bucketed by (id, h), the verify
    * stage's join key, via [[graft.core.BucketedStore]] so the step's
    * exact-Jaccard verify is exchange-free on the corpus side — and
    * feed every future increment [[nearDuplicatesIncremental]]; append
    * the increment's own index rows afterwards. Far smaller than the text
    * it summarizes, and the 100 TB reason this exists: a daily crawl
    * increment must NOT re-shingle — or re-pair — the accumulated
    * corpus. */
  def shingleIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      hash: Column => Column = TextHash.polyHash): DataFrame =
    shingleHashes(docs, idCol, textCol, n, hash).distinct()

  /** The at-rest LSH side-tables that make [[nearDuplicatesIncremental]]
    * fully increment-sized — the [[Jaccard.indexDfs]]/[[Jaccard.indexSizes]]
    * recipe applied to the banded flavor. Without them, every step
    * re-derives the OLD side's signatures from the shingle index — a
    * corpus-index-sized groupBy (12 min-aggregates over every (id, h)
    * row) inside an operator whose contract is "increment-sized", plus
    * a second corpus-sized groupBy for the union-counted `maxBucket`
    * guard (measured at the sf1 journey soak: the per-step recompute
    * made the composed daily step LOSE to the batch bootstrap). With
    * them, the old side's contribution to pairing is a stored relation
    * the (band, key) join reads, the guard is an increment-keyed left
    * join against stored per-bucket counts, and the verify's size
    * lookup is a stored relation — no aggregate ever runs over the
    * accumulated corpus.
    *
    *  - `bandKeys` — (id, band, key): one row per indexed doc per
    *    band, exactly the relation the LSH join buckets on. Store it
    *    bucketed/clustered by (band, key); maintain by pure APPEND of
    *    each increment's own rows (ids disjoint ⇒ rows disjoint).
    *  - `bucketCounts` — (band, key, n): per-bucket doc counts, the
    *    union-counted guard's old half. Maintain by increment-ADD
    *    (union + sum per key — only increment-touched keys change).
    *  - `sizes` — (id, sz): per-doc distinct-shingle counts
    *    ([[Jaccard.indexSizes]] over the same shingle index — ONE
    *    stored artifact serves both dedup flavors). Maintain by pure
    *    append.
    *
    * Maintenance identity (spec-pinned in LlmSpec): `bandIndexAdd`
    * over an increment's index rows equals `bandIndexOf` over the
    * union index, row for row — so chained daily maintenance never
    * drifts from a bootstrap rebuild. */
  final case class BandIndex(
      bandKeys: DataFrame,
      bucketCounts: DataFrame,
      sizes: DataFrame)

  /** (id, band, key) band-key rows of a [[shingleIndex]] — the
    * BOOTSTRAP derivation (one signature groupBy over the index;
    * production runs it once and persists, then maintains by
    * [[bandIndexAdd]]). */
  def indexBandKeys(
      index: DataFrame,
      idCol: String,
      bands: Int = Bands,
      rows: Int = Rows): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= A.length,
      s"bands=$bands rows=$rows needs bands*rows in 1..${A.length}")
    bandKeyRows(
      signaturesFromHashes(index.toDF(idCol, "h"), idCol, bands * rows),
      idCol, bands, rows)
  }

  /** (band, key, n) per-bucket doc counts of a band-key table. */
  def bandBucketCounts(bandKeys: DataFrame): DataFrame =
    bandKeys.toDF("__id", "band", "key")
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))

  /** Bootstrap the full [[BandIndex]] from a [[shingleIndex]]. */
  def bandIndexOf(
      index: DataFrame,
      idCol: String,
      bands: Int = Bands,
      rows: Int = Rows): BandIndex = {
    val bk = indexBandKeys(index, idCol, bands, rows)
    BandIndex(bk, bandBucketCounts(bk), Jaccard.indexSizes(index, idCol))
  }

  /** Advance a [[BandIndex]] by an increment's OWN [[shingleIndex]]
    * rows (ids disjoint from everything already indexed): band keys
    * and sizes append, bucket counts add per key — every term is
    * increment-sized except the bucket-count re-aggregation, which
    * production replaces with a merge-on-key write into the stored
    * (band, key)-bucketed table. */
  def bandIndexAdd(
      bi: BandIndex,
      newIndex: DataFrame,
      idCol: String,
      bands: Int = Bands,
      rows: Int = Rows): BandIndex = {
    val nbk = indexBandKeys(newIndex, idCol, bands, rows)
    BandIndex(
      bi.bandKeys.unionByName(nbk),
      bi.bucketCounts.unionByName(bandBucketCounts(nbk))
        .groupBy(col("band"), col("key")).agg(sum(col("n")).as("n")),
      bi.sizes.unionByName(Jaccard.indexSizes(newIndex, idCol)))
  }

  /** Near-duplicates of a NEW batch against an indexed corpus, plus
    * within the batch itself — bit-identical to running
    * [[nearDuplicates]] over old ∪ new and keeping the pairs that
    * involve ≥ 1 new document, WITHOUT ever running the old×old
    * candidate join (the accumulated corpus pairs only through keys
    * the increment actually touches). `index` must be a
    * [[shingleIndex]] table of the old corpus — (id, h), id column
    * first — with ids disjoint from the batch's.
    *
    * Scale shape: the batch side is increment-sized everywhere. The
    * index side's cost depends on `sideTables`:
    *
    *  - `None` (bootstrap-only mode): the old side's band keys are
    *    re-derived from the shingle index — ONE corpus-index-sized
    *    signature groupBy per call, plus a second for the union
    *    `maxBucket` count. Correct, but the per-step cost grows with
    *    the accumulated corpus — measured at the sf1 journey soak to
    *    make the composed daily step LOSE to its batch bootstrap.
    *  - `Some(BandIndex)` (production mode): the old side's band keys,
    *    bucket counts, and sizes are STORED relations ([[bandIndexOf]]
    *    once, [[bandIndexAdd]] per increment) — no aggregate ever
    *    runs over the accumulated corpus; the guard becomes an
    *    increment-keyed left join and the (band, key) join reads the
    *    at-rest table (bucket it by (band, key) to make the old side
    *    exchange-free). The exact-verify stage joins the index on
    *    (id, h) and the sizes on id with the roles split
    *    ([[exactJaccardVerifySplit]]) — store them bucketed by
    *    exactly those keys and the WHOLE step runs with zero exchange
    *    on every corpus-sized relation (plan-pinned in PlanAuditSpec).
    *    Output is bit-identical with or without.
    *
    * Candidate volume is |new×old collisions| + |new×new collisions|
    * — never |old|². Output shape and ordering match
    * [[nearDuplicates]] (id_a < id_b). */
  def nearDuplicatesIncremental(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 3,
      threshold: Double = 0.2,
      hash: Column => Column = TextHash.polyHash,
      maxBucket: Option[Int] = None,
      bands: Int = Bands,
      rows: Int = Rows,
      sideTables: Option[BandIndex] = None,
      scope: graft.core.CacheScope = graft.core.CacheScope.untracked): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= A.length,
      s"bands=$bands rows=$rows needs bands*rows in 1..${A.length}")
    // PERSIST the increment's distinct shingle relation: it feeds up to
    // six consumers (signatures/band keys — twice more under the
    // guard's anti-join — sizes, and both exact-verify join sides via
    // the union), and per-consumer column pruning makes their
    // exchanges non-identical, so ReusedExchange does NOT collapse
    // them the way it does in the batch arm — each consumer would
    // re-run the upstream batch plan (often score→gate→tokenize).
    // Measured at the sf1 journey soak: the un-persisted form paid the
    // new-side derivation ~6× (167 s pair stage; SCALING.md row
    // `journey-fanout`).
    // Increment-sized by contract, so MEMORY_AND_DISK is safe; lazy —
    // fills on the first action, unlike the edge relation's eager
    // checkpoint in DedupClusters (documented there). Registered with
    // the caller's `scope` so a per-batch caller can unpersist after
    // materializing (CacheManager entries never GC on their own).
    val shNew = scope.persist(
      shingleHashes(newDocs, idCol, textCol, n, hash).distinct())
    val shOld = index.toDF(idCol, "h")
    val bandNew0 = bandKeyRows(signaturesFromHashes(shNew, idCol, bands * rows),
      idCol, bands, rows)
    val bandOld0 = sideTables match {
      case Some(bi) => bi.bandKeys.toDF(idCol, "band", "key")
      case None => bandKeyRows(signaturesFromHashes(shOld, idCol, bands * rows),
        idCol, bands, rows)
    }
    // `maxBucket` is the same degenerate-bucket guard as
    // candidatePairs' — a hot band key (e.g. many near-empty docs
    // sharing a signature) otherwise recreates the quadratic new×old
    // blowup at exactly the daily-increment scale this operator
    // targets. Bucket sizes are counted over the UNION of both sides —
    // the same buckets the batch run would see — so the
    // batch-restriction identity holds capped or not (the
    // BandedHamming.nearDuplicatesIncrementalOver rule); over-cap keys
    // leave BOTH sides via broadcast anti-joins, never a count window
    // on the hot key. Only increment-touched keys can generate
    // candidates (every pair has a new member), so with the at-rest
    // bucket counts the union count is an increment-keyed left join —
    // old-only over-cap keys stay unlisted, and stay pairless.
    val (bandNew, bandOld) = maxBucket match {
      case Some(m) =>
        val over = sideTables match {
          case Some(bi) =>
            bandNew0.groupBy(col("band"), col("key"))
              .agg(count(lit(1)).as("__nn"))
              .join(bi.bucketCounts.toDF("band", "key", "__on"),
                Seq("band", "key"), "left")
              .filter(col("__nn") + coalesce(col("__on"), lit(0L)) > m)
              .select(col("band"), col("key"))
          case None =>
            bandNew0.select(col("band"), col("key"))
              .unionByName(bandOld0.select(col("band"), col("key")))
              .groupBy(col("band"), col("key"))
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n") > m)
              .select(col("band"), col("key"))
        }
        (bandNew0.join(Guards.broadcastBounded(over), Seq("band", "key"), "left_anti")
           .select(col(idCol), col("band"), col("key")),
         bandOld0.join(Guards.broadcastBounded(over), Seq("band", "key"), "left_anti")
           .select(col(idCol), col("band"), col("key")))
      case None => (bandNew0, bandOld0)
    }
    // the new side's band keys feed three joins (new×old + both sides
    // of new×new) — persist the increment-sized relation so the
    // 12-min-agg signature groupBy runs once, not three times
    scope.persist(bandNew)
    // pairs keep their ROLES (which endpoint is new) all the way into
    // the verify: canonicalizing here would force the verify to union
    // shNew ∪ shOld into one lookup relation, destroying the at-rest
    // index's storage partitioning (the pre-r16 shape — two
    // corpus-sized shuffles per step). Ids are disjoint by contract,
    // so the role sets cannot overlap and distinct() per set suffices.
    val pairsNO = bandNew.toDF("id_n", "band", "key")
      .join(bandOld.toDF("id_o", "band", "key"), Seq("band", "key"))
      .filter(col("id_n") =!= col("id_o"))
      .select(col("id_n"), col("id_o"))
      .distinct()
    val pairsNN = bandNew.toDF("id_a", "band", "key")
      .join(bandNew.toDF("id_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val szNew = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // with side tables, the verify's size lookup reads the stored
    // relation directly — the last linear pass over the index
    // disappears, and (unlike the pre-split union) its bucketing
    // survives to the join
    val szOld = sideTables.map(_.sizes.toDF(idCol, "sz")).getOrElse(
      shOld.groupBy(col(idCol)).agg(count(lit(1)).as("sz")))
    exactJaccardVerifySplit(shNew, szNew, shOld, szOld, pairsNO, pairsNN, threshold)
  }

  /** The banded-LSH S-curve: probability that a pair with Jaccard
    * similarity `s` collides in at least one of `bands` bands of
    * `rows` minhashes each — `1 − (1 − s^r)^b` (Leskovec/Rajaraman/
    * Ullman, MMDS §3.4.2). The curve's midpoint sits near
    * `(1/b)^(1/r)`. */
  def collisionProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** A chosen (bands, rows) split with its closed-form operating
    * point: predicted recall at the target threshold and the
    * false-positive collision rate at half the threshold (the
    * wasted-verification proxy — every sub-threshold collision costs
    * an exact-Jaccard check downstream). */
  final case class BandTuning(
      bands: Int,
      rows: Int,
      predictedRecall: Double,
      fpAtHalfThreshold: Double)

  /** Knob auto-tuning from the S-curve the empirical
    * `q_doc_lsh_recall` eval validated: choose (bands, rows) with
    * `bands · rows ≤ maxHashes` such that the closed-form collision
    * probability at `threshold` meets `targetRecall`, and among the
    * feasible splits minimize the false-positive rate at
    * `threshold / 2` (then prefer fewer total hashes). If no split
    * within the hash budget can reach the target — steep targets at
    * low thresholds need r=1 and many bands — the split with the
    * highest achievable recall is returned; callers detect the miss
    * via `predictedRecall < targetRecall`.
    *
    * This is a driver-side closed form over ≤ maxHashes² integer
    * splits — no data is touched; pass the result's (bands, rows)
    * to [[nearDuplicates]] / [[candidatePairs]]. */
  def tuneBands(
      threshold: Double,
      targetRecall: Double,
      maxHashes: Int = NumHashes): BandTuning = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold=$threshold must be in (0,1)")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall=$targetRecall must be in (0,1)")
    require(maxHashes >= 1 && maxHashes <= A.length,
      s"maxHashes=$maxHashes needs 1..${A.length} fixed permutations")
    val options = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
    } yield BandTuning(b, r,
      collisionProbability(threshold, b, r),
      collisionProbability(threshold / 2, b, r))
    val feasible = options.filter(_.predictedRecall >= targetRecall)
    if (feasible.nonEmpty)
      feasible.minBy(t => (t.fpAtHalfThreshold, t.bands * t.rows))
    else
      options.maxBy(t => (t.predictedRecall, -t.fpAtHalfThreshold))
  }

  /** The cost dimension the closed form cannot see: measured
    * candidate-generation volume of a (bands, rows) split on a real
    * signature table. `candidatePairs` is Σ sz·(sz−1)/2 over the
    * (band, key) buckets — the exact-Jaccard verification work the LSH
    * join will emit (pre-distinct, i.e. the work, not the output);
    * `cappedPairs` is the share of that volume sitting in buckets a
    * `maxBucket` guard would drop ENTIRELY — silent recall loss the
    * S-curve's promise doesn't price in. With r = 1 every band key is
    * a single raw minhash, so bucket sizes follow shingle popularity
    * and these two numbers are exactly where an (11, 1)-style tuned
    * config gets expensive. */
  final case class BandCost(
      bands: Int,
      rows: Int,
      candidatePairs: Long,
      cappedPairs: Long,
      maxBucketSize: Long) {
    def truncationBites: Boolean = cappedPairs > 0L
  }

  /** One measured-cost row per (bands, rows) config, in ONE job over
    * the signature table (the per-config aggregates union, so the sig
    * scan is shared — persist `sig` upstream when it is expensive).
    * Columns: n_bands, n_rows, candidate_pairs, capped_pairs,
    * max_bucket_sz. Scale shape: per config, one groupBy on the same
    * (band, key) the production join shuffles on, then a one-row
    * aggregate — the measurement costs one candidate-generation
    * shuffle and no join. */
  def bandCostTable(
      sig: DataFrame,
      idCol: String,
      configs: Seq[(Int, Int)],
      maxBucket: Option[Int] = None): DataFrame = {
    require(configs.nonEmpty, "bandCostTable needs at least one (bands, rows) config")
    val cap = maxBucket.getOrElse(Int.MaxValue)
    configs.map { case (b, r) =>
      require(b >= 1 && r >= 1 && b * r <= A.length,
        s"bands=$b rows=$r needs bands*rows in 1..${A.length}")
      bandKeyRows(sig, idCol, b, r)
        .groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("sz"))
        .agg(
          coalesce(sum(expr("(sz * (sz - 1)) div 2")), lit(0L)).as("candidate_pairs"),
          coalesce(sum(when(col("sz") > cap, expr("(sz * (sz - 1)) div 2"))
            .otherwise(lit(0L))), lit(0L)).as("capped_pairs"),
          coalesce(max(col("sz")), lit(0L)).as("max_bucket_sz"))
        .select(lit(b).as("n_bands"), lit(r).as("n_rows"),
          col("candidate_pairs"), col("capped_pairs"), col("max_bucket_sz"))
    }.reduce(_ unionByName _)
  }

  /** [[tuneBands]] with the measured cost term attached: the
    * closed-form feasible set is shortlisted (best split per distinct
    * r — r is what moves bucket skew), each shortlisted split's
    * candidate volume is MEASURED on the caller's signature table
    * ([[bandCostTable]], one job), and the pick prefers
    * truncation-free splits, then least measured candidate work, then
    * the closed-form (fp, hashes) order. When every feasible split
    * truncates under `maxBucket` (the r=1-only regime: steep targets
    * at low thresholds), the least-truncating one is returned with
    * `truncationWarning = true` — the caller sees the recall the
    * S-curve promised is NOT what the capped join will deliver. */
  final case class MeasuredBandTuning(
      choice: BandTuning,
      cost: BandCost,
      alternatives: Seq[(BandTuning, BandCost)],
      truncationWarning: Boolean)

  def tuneBandsMeasured(
      sig: DataFrame,
      idCol: String,
      threshold: Double,
      targetRecall: Double,
      maxHashes: Int = NumHashes,
      maxBucket: Option[Int] = None,
      shortlist: Int = 3): MeasuredBandTuning = {
    val options = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
    } yield BandTuning(b, r,
      collisionProbability(threshold, b, r),
      collisionProbability(threshold / 2, b, r))
    val feasible = options.filter(_.predictedRecall >= targetRecall)
    val pool =
      if (feasible.nonEmpty) feasible
      else Seq(options.maxBy(t => (t.predictedRecall, -t.fpAtHalfThreshold)))
    val perR = pool.groupBy(_.rows).values
      .map(_.minBy(t => (t.fpAtHalfThreshold, t.bands * t.rows))).toSeq
    val candidates = perR.sortBy(t => (t.fpAtHalfThreshold, t.bands * t.rows))
      .take(math.max(1, shortlist))
    val measured = bandCostTable(sig, idCol,
      candidates.map(t => (t.bands, t.rows)), maxBucket)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        BandCost(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val costs = candidates.map(t => t -> measured((t.bands, t.rows)))
    val (best, cost) = costs.minBy { case (t, c) =>
      (c.truncationBites, c.candidatePairs, t.fpAtHalfThreshold, t.bands * t.rows)
    }
    MeasuredBandTuning(best, cost, costs, cost.truncationBites)
  }
}
