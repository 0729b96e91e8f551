package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over ARRAY<FLOAT> columns.
  *
  * Two paths, as a production pipeline needs both:
  *
  *  - [[topKCosine]] — exact brute-force top-k: broadcast the (small)
  *    query set against the full corpus, one corpus scan, per-query
  *    row_number. The corpus side never shuffles; cost is
  *    O(|corpus|·|queries|) dot products inside whole-stage codegen.
  *    Right answer when |queries| is small — the typical eval/probe
  *    workload even at 100 TB corpus scale.
  *  - [[withLshBucket]] — random-hyperplane LSH (sign of projections on
  *    fixed pseudo-random planes) assigning every vector a bucket id.
  *    ANN search then shuffles once on the bucket key and does
  *    brute-force only within buckets (expected corpus/2^bits fraction
  *    each) — the scale path for all-pairs-ish workloads.
  *
  * All arithmetic is element-ordered double folds so results are
  * bit-reproducible across engines (the DuckDB oracle mirrors the same
  * fold; see the *Sql helpers).
  */
object Similarity {

  /** Ordered index-ascending dot product in double precision.
    * Production path: the native codegen'd expression
    * ([[graft.functions.VectorExpressions.dotNative]]) — bit-identical
    * to the composable fold below, which stays as documentation of the
    * semantics and as the arbitration form the DuckDB oracle mirrors. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotNative(a, b)

  /** The equivalent higher-order-function form (CodegenFallback; kept
    * for cross-checking the native expression). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB mirror of [[dot]]: same element order, same fold. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($a)), " +
      s"i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE))), (acc, x) -> acc + x)"

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Exact top-k cosine neighbors of each query vector.
    *
    * Ranking shape: by default the per-query top-k is a k-BOUNDED
    * partial aggregation ([[graft.functions.BoundedTopK]]) — each map
    * task keeps at most k (score, id) entries per query, so the
    * shuffle carries ≤ |Q|·k·partitions rows and NO task ever holds a
    * |corpus|-sized sort (the `row_number` window shape put every
    * query's FULL scored corpus scan on one task — the last
    * corpus-rows-in-one-task shape in the serving ladder). Output is
    * bit-identical to the window arm: same exact unrounded doubles
    * compared, same (score DESC, id ASC) total order, rounding on
    * output. Non-integral id columns, which the bounded aggregate's
    * BIGINT keep-list cannot carry, rank through the window instead.
    *
    * @param corpus  (idCol, vecCol) table — scanned once, never shuffled
    * @param queries (idCol, vecCol) table — must be broadcast-small */
  def topKCosine(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", cosine(col("__qv"), col("__cv")))
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, "cos_sim")
  }

  private[llm] def isIntegralId(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The ONE copy of the per-query shortlist-ranking tail every
    * serving arm ends in: score column `__s` (plus `query_id`,
    * `neighbor_id`) → top-k per query as (query_id, neighbor_id, rank,
    * round(score, 6) AS outName).
    *
    * Default path: the k-bounded partial aggregation
    * ([[graft.functions.BoundedTopK]]) — O(k) state per query per map
    * task, the shuffle carries ≤ |Q|·k·partitions rows, and no task
    * ever sorts a shortlist. Non-integral id columns, which the
    * aggregate's BIGINT keep-list cannot carry, rank through a
    * per-query `row_number` window instead; its state is bounded by
    * the SHORTLIST size, which LSH buckets and IVF cells make empirical
    * rather than structural on clustered corpora (the r11 MoG
    * measurement). `BoundedTopKSpec` pins the aggregate against the
    * window by ranking the same corpus under zero-padded string ids.
    *
    * Bit-parity with the window arm: same exact unrounded doubles
    * compared, same (score best-first, id ASC) total order, rounding
    * on output. `ascending = true` (the L2 arm) ranks by negated
    * score inside the aggregate — exact for doubles (Double.compare
    * on negations reverses, ±0 included); null AND NaN scores are out
    * of contract there: a cosine/L2 of non-null vectors is never
    * null, and NaN only arises from NaN vector components (the window
    * arm ranks a NaN distance last while the negated aggregate —
    * -NaN = NaN, the greatest double — would rank it first, so the
    * parity claim excludes NaN inputs by contract rather than paying
    * an is-NaN filter on every scored row). */
  private[llm] def rankPerQuery(
      scored: DataFrame,
      k: Int,
      idType: org.apache.spark.sql.types.DataType,
      outName: String,
      ascending: Boolean = false): DataFrame = {
    if (isIntegralId(idType)) {
      val s = if (ascending) -col("__s") else col("__s")
      scored.groupBy(col("query_id"))
        .agg(graft.functions.BoundedTopK
          .topKByScore(k, s, col("neighbor_id").cast("long")).as("__top"))
        .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("query_id"),
          col("__e.id").cast(idType).as("neighbor_id"),
          (col("__pos") + 1).as("rank"),
          round(if (ascending) -col("__e.s") else col("__e.s"), 6).as(outName))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(if (ascending) col("__s").asc else col("__s").desc,
          col("neighbor_id").asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("__s"), 6).as(outName))
    }
  }

  /** Plane constants for [[withLshBucket]]: plane p weights dimension d
    * with ((Ap(p)*d + Bp(p)) mod 97)/97 - 0.5 — fixed, engine-neutral. */
  val Ap: Seq[Long] = Seq(3L, 17L, 29L, 43L, 59L, 73L, 87L, 95L)
  val Bp: Seq[Long] = Seq(5L, 13L, 31L, 41L, 53L, 67L, 79L, 91L)
  val PlaneBits: Int = 8

  private def planeWeight(p: Int, d: Column): Column =
    ((d * Ap(p) + Bp(p)) % 97).cast("double") / 97.0 - 0.5

  /** Adds `bucket` — the LSH bucket id in [0, 2^PlaneBits). */
  def withLshBucket(emb: DataFrame, vecCol: String): DataFrame = {
    def proj(p: Int): Column =
      aggregate(
        zip_with(col(vecCol), sequence(lit(1L), size(col(vecCol)).cast("long")),
          (x, d) => x.cast("double") * planeWeight(p, d)),
        lit(0.0),
        (acc, x) => acc + x)
    val bucket = (0 until PlaneBits)
      .map(p => when(proj(p) >= 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  /** Bucketed ANN: probe vectors search ONLY their own LSH bucket —
    * the shuffle key is the bucket id, so the join fans out as
    * |corpus|/2^bits-sized partitions instead of an all-pairs product.
    * Recall is traded for the 2^bits fan-in cut (multi-probe = union
    * over neighboring buckets, not needed here). Output matches
    * [[topKCosine]]'s shape with `rank` per query within its bucket. */
  def topKCosineBucketed(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = withLshBucket(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("bucket"))
    val q = withLshBucket(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", cosine(col("__qv"), col("__cv")))
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, "cos_sim")
  }

  /** XOR masks for all buckets within Hamming distance `h` of a
    * query's own bucket (h ∈ {0, 1, 2}): 1, 1+8, or 1+8+28 probes
    * over the 2^8 bucket space. */
  private[llm] def hammingMasks(h: Int): Seq[Long] = {
    require(h >= 0 && h <= 2, s"hamming=$h supported for 0..2")
    val zero = Seq(0L)
    val one = (0 until PlaneBits).map(p => 1L << p)
    val two = for {
      p <- 0 until PlaneBits; q <- (p + 1) until PlaneBits
    } yield (1L << p) | (1L << q)
    h match {
      case 0 => zero
      case 1 => zero ++ one
      case _ => zero ++ one ++ two
    }
  }

  /** Multi-probe bucketed ANN (Lv et al. 2007, "Multi-Probe LSH"):
    * each query searches every bucket within Hamming distance
    * `hamming` of its own — the nearest-miss buckets, where a true
    * neighbor lands whenever ONE hyperplane sign disagrees. The
    * remedy for the recall collapse `q_emb_ann_recall` measures on
    * [[topKCosineBucketed]] (8 planes cut 256 buckets so fine that
    * single-bucket probing recalls ~0 on a clusterless corpus).
    *
    * Scale shape: identical to IVF multi-probe — the fan-out
    * multiplies the QUERY side only (|Q| × 9 probes at h=1); the
    * corpus side keeps one bucket per vector, so no duplicate
    * (query, neighbor) pairs and the join still shuffles on the
    * bucket key. Output matches [[topKCosineBucketed]]'s shape. */
  def topKCosineBucketedMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      hamming: Int = 1): DataFrame = {
    val c = withLshBucket(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("bucket"))
    val q = withLshBucket(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("bucket"),
        explode(typedLit(hammingMasks(hamming))).as("__m"))
      .select(col("query_id"), col("__qv"),
        col("bucket").bitwiseXOR(col("__m")).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", cosine(col("__qv"), col("__cv")))
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, "cos_sim")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Embedding-cosine near-duplicate pairs: candidate pairs come from
    * LSH-bucket collisions only (never all-pairs), then exact cosine
    * verifies against the threshold — the embedding analog of
    * [[MinHash.nearDuplicates]].
    *
    * `maxBucket` is the degenerate-bucket guard the clustered-regime
    * tier showed this path needs: on a CLUSTERED corpus (the
    * production case — [[ClusteredCorpus]]) the random-hyperplane
    * buckets concentrate around the cluster count, so bucket sizes
    * approach |corpus|/#clusters and the self-join goes quadratic per
    * bucket. Unlike banded MinHash there is only ONE bucket per
    * vector, so a capped bucket loses its pairs entirely — the cap is
    * a blow-up bound, not a recall-free optimization; for clustered
    * corpora the production dedup path is [[semDeDup]] with the
    * [[cellsFor]] rule (cells sized to hold the quadratic term
    * constant), and this guard keeps the LSH path from melting a
    * cluster when pointed at the wrong geometry. */
  def nearDuplicates(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Option[Int] = None): DataFrame = {
    val b0 = withLshBucket(emb, vecCol)
      .select(col(idCol), col(vecCol), col("bucket"))
    // skew-safe guard shape (BandedHamming.dropOverCap): partial-agg
    // count + broadcast anti-join — the saturated bucket this guard
    // exists for never lands on one task just to be counted
    val b = maxBucket match {
      case Some(m) => BandedHamming.dropOverCap(b0, Seq("bucket"), m)
      case None => b0
    }
    val l = b.toDF("id_a", "__va", "bucket")
    val r = b.toDF("id_b", "__vb", "bucket")
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__cos", cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cos_sim"))
  }

  /** The cell-count rule the sf10 soak measured (SCALING.md round-10
    * table): size the coarse quantizer so the per-cell population
    * stays ~`perCell` vectors — the in-cell pairwise term is then
    * CONSTANT per cell as the corpus grows (linear total), where a
    * fixed cell count goes quadratic (measured 49.9× vs 9.2× time at
    * 10× data). Pass `cellsFor(corpusSize)` as [[semDeDup]]'s
    * `nCells` when the corpus size is known. */
  def cellsFor(corpusSize: Long, perCell: Long = 2500L): Int =
    math.max(8L, corpusSize / perCell).toInt

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, then deduplicate ONLY within clusters — a vector is
    * dropped when another vector in the same cell sits above the
    * cosine threshold and has a smaller id (the deterministic stand-in
    * for the paper's keep-one-per-duplicate-group rule).
    *
    * Scale shape: this is the embedding analog of banded-LSH dedup —
    * the pairwise pass is confined to cells (expected |corpus|/k per
    * cell, k sized so cells fit an executor), so the join shuffles on
    * the cell id and never goes all-pairs; the drop rule is a
    * cell-local semi-join, no global state. The codebook is the same
    * deterministic md5 hash-sample as [[topKCosineIvf]] (k-means
    * centroids drop in without changing the algebra).
    *
    * Output: one row per vector — (id, cell, keep). */
  def semDeDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCells: Int = 8): DataFrame =
    semDeDupWithCodebook(emb, idCol, vecCol, threshold,
      coarseCodebook(emb, idCol, vecCol, nCells))

  /** [[semDeDup]] over an EXTERNALLY PROVIDED codebook (cell,
    * `__cent`) — the [[topKCosineIvfTrained]] split applied to dedup:
    * identical algebra, only the codebook provenance differs. This is
    * also what pins the incremental arm: the batch-restriction
    * identity of [[semDeDupIncremental]] holds exactly when both runs
    * share ONE codebook (re-sampling the codebook from old ∪ new would
    * move cell boundaries and re-pair the whole corpus). */
  def semDeDupWithCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      codebook: DataFrame): DataFrame = {
    val asg = assignCells(emb, codebook, idCol, vecCol, "__id", "__v")
    val l = asg.select(col("__id").as("id_a"), col("__v").as("__va"), col("cell"))
    val r = asg.select(col("__id").as("id_b"), col("__v").as("__vb"), col("cell"))
    // ids dropped: collide in-cell with a smaller-id near-duplicate
    val dropped = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as("__id")).distinct()
    asg.join(dropped.withColumn("__dropped", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        not(coalesce(col("__dropped"), lit(false))).as("keep"))
  }

  /** INCREMENTAL SemDeDup — the batch analog of the streaming
    * semantic dedup, completing the incremental-dedup family across
    * all five modalities: a NEW batch is deduplicated against an
    * AT-REST cell index of the accumulated corpus WITHOUT ever
    * re-pairing old×old within cells.
    *
    * `index` is the at-rest artifact — (idCol, vecCol, cell, keep):
    * the prior [[semDeDupWithCodebook]] decision with the vectors
    * carried (write it cell-partitioned so only touched cells are
    * read); `codebook` is the SAME codebook that built it (see
    * [[semDeDupWithCodebook]] for why sharing it is what makes the
    * identity exact). Ids must be disjoint across the two inputs.
    *
    * Output: (idCol, cell, keep) for every decodable NEW vector —
    * bit-identical to the batch run over old ∪ new restricted to new
    * ids — PLUS a row (keep = false) for each previously-KEPT old
    * vector a smaller-id new vector now shadows (the at-rest delta;
    * drops are monotone, so keep can only flip one way).
    *
    * Scale shape: the increment side assigns cells against the
    * broadcast codebook; the at-rest side is touched-cells-only (an
    * increment-sized broadcast semi-join / partition pruning on the
    * cell key); the pair join is old×new + new×new inside touched
    * cells — the |old|²-within-cells term a daily re-run would pay
    * never exists. */
  def semDeDupIncremental(
      newEmb: DataFrame,
      index: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val asgNew = assignCells(newEmb, codebook, idCol, vecCol, "__id", "__v")
    val cells = asgNew.select(col("cell")).distinct()
    val oldTouched = index
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("cell"), col("keep"))
      .join(broadcast(cells), Seq("cell"), "left_semi")
      .select(col("__id"), col("__v"), col("cell"), col("keep"))
    val lNew = asgNew.select(col("cell"), col("__id").as("id_a"), col("__v").as("__va"))
    val lOld = oldTouched.select(col("cell"), col("__id").as("id_a"), col("__v").as("__va"))
    val rNew = asgNew.select(col("cell"), col("__id").as("id_b"), col("__v").as("__vb"))
    // a new id is dropped by ANY smaller-id in-cell neighbor — old or
    // new — exactly the batch rule restricted to pairs with a new member
    val droppedNew = lNew.unionByName(lOld).join(rNew, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as("__id")).distinct()
    val newRows = asgNew
      .join(droppedNew.withColumn("__dropped", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        not(coalesce(col("__dropped"), lit(false))).as("keep"))
    // the at-rest delta: previously-kept old vectors shadowed by a
    // smaller NEW id (old×old relations are unchanged by the increment)
    val rOld = oldTouched.filter(col("keep"))
      .select(col("cell"), col("__id").as("id_b"), col("__v").as("__vb"))
    val changedOld = lNew.join(rOld, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b"), col("cell")).distinct()
      .select(col("id_b").as(idCol), col("cell"), lit(false).as("keep"))
    newRows.unionByName(changedOld)
  }

  /** IVF (inverted-file) ANN — the other classic scale path besides
    * LSH. A small, broadcast coarse-quantizer codebook (here: a
    * deterministic sample of the corpus itself, the first
    * `nCentroids` ids — a real deployment would drop in k-means
    * centroids, the algebra is identical) partitions the corpus into
    * cells: every vector is assigned to its highest-cosine centroid
    * with ONE partial-aggregable groupBy (max_by over the broadcast
    * product — no window, no corpus shuffle wider than one row per
    * vector). Probes search only their own cell (nprobe=1), so the
    * join shuffles on the cell id and brute-forces ~|corpus|/nCentroids
    * vectors per probe instead of the full corpus. */
  /** Deterministic hash-sample coarse codebook: the nCentroids corpus
    * rows with the smallest md5(id) — id-type/density agnostic (works
    * for string ids and sparse numeric ids alike), reproducible across
    * engines (md5 is bit-identical in the DuckDB oracle), and a
    * distributed top-N (TakeOrderedAndProject), never a full sort.
    * Cells are re-labeled 0..n-1 by hash order on the (tiny) codebook. */
  def coarseCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int): DataFrame = {
    val wCode = org.apache.spark.sql.expressions.Window.orderBy(col("__h"))
    corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h")).limit(nCentroids)
      .withColumn("cell", (row_number().over(wCode) - 1).cast("long"))
      .select(col("cell"), col(vecCol).as("__cent"))
  }

  /** Assigns every vector its highest-cosine cell from the broadcast
    * codebook with ONE partial-aggregable groupBy (max_by over the
    * broadcast product — no window, no shuffle wider than one row per
    * vector). Ties break to the lowest cell id. */
  private def assignCells(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      outId: String,
      outVec: String): DataFrame =
    df.select(col(idCol).as(outId), col(vecCol).as(outVec))
      .crossJoin(broadcast(cents))
      .withColumn("__cc", cosine(col(outVec), col("__cent")))
      .groupBy(col(outId), col(outVec))
      .agg(max_by(col("cell"), struct(col("__cc"), -col("cell"))).as("cell"))

  /** Multi-probe query-side assignment: the `nProbe` highest-cosine
    * cells per query (FAISS `nprobe`). The probe table is |Q|·nProbe
    * rows — still query-sized; the corpus side stays single-cell, so
    * the search join fans out by nProbe on the SMALL side only. */
  private def assignProbes(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      outId: String,
      outVec: String,
      nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(outId))
      .orderBy(col("__cc").desc, col("cell").asc)
    df.select(col(idCol).as(outId), col(vecCol).as(outVec))
      .crossJoin(broadcast(cents))
      .withColumn("__cc", cosine(col(outVec), col("__cent")))
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nProbe)
      .select(col(outId), col(outVec), col("cell"), col("__pr"))
  }

  def topKCosineIvf(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 8,
      nProbe: Int = 1): DataFrame = {
    val cents = coarseCodebook(corpus, idCol, vecCol, nCentroids)
    val c = assignCells(corpus, cents, idCol, vecCol, "neighbor_id", "__cv")
    // single-probe keeps the original windowless max_by assignment
    // (and the original plan); multi-probe ranks the |Q|-sized side
    val q = if (nProbe <= 1) assignCells(queries, cents, idCol, vecCol, "query_id", "__qv")
      else assignProbes(queries, cents, idCol, vecCol, "query_id", "__qv", nProbe)
    // a corpus vector lives in exactly one cell, so multi-probe never
    // produces duplicate (query, neighbor) pairs — no dedup needed
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", cosine(col("__qv"), col("__cv")))
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, "cos_sim")
  }

  /** IVF ANN over an EXTERNALLY TRAINED codebook — the serve half of
    * the train-in-[[KMeansLite]] → search-here journey. `codebook`
    * must be (cell, __cent ARRAY<FLOAT>) — exactly what
    * [[KMeansLite.asFloatCodebook]] emits. Identical physical shape to
    * [[topKCosineIvf]] (broadcast codebook, one partial-agg assignment
    * groupBy per side, cell-keyed search join); only the codebook
    * provenance differs. */
  def topKCosineIvfTrained(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebook: DataFrame): DataFrame = {
    val c = assignCells(corpus, codebook, idCol, vecCol, "neighbor_id", "__cv")
    val q = assignCells(queries, codebook, idCol, vecCol, "query_id", "__qv")
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", cosine(col("__qv"), col("__cv")))
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, "cos_sim")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** The IVF nprobe recall curve, measured in ONE pass: recall@k of
    * [[topKCosineIvf]] for every probe depth 1..maxProbe against the
    * exact cosine top-k truth on the same query sample. The FAISS
    * nprobe dial is corpus-geometry-dependent — this is the sampled
    * probe the `q_emb_ann_recall` warning artifact calls for, turned
    * into a per-knob curve so [[tuneProbes]] can pick the cheapest
    * depth that meets a recall target.
    *
    * Scale shape: the probed candidate relation is built ONCE at
    * maxProbe depth (the shapes of [[topKCosineIvf]] — broadcast
    * codebook, cell-keyed search join); each candidate row then
    * fans out only to the probe levels it is visible at (≤ maxProbe
    * copies of a |candidates|-row relation, nothing corpus-sized),
    * and one grouped aggregate per level scores the curve. The
    * exact-truth side is the broadcast-query brute-force scan every
    * eval here pays once.
    *
    * Output: (nprobe, returned, hits, possible, recall round 6),
    * recall non-decreasing in nprobe by construction (candidate sets
    * nest). */
  def probeRecallCurve(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int,
      maxProbe: Int): DataFrame = {
    require(maxProbe >= 1 && maxProbe <= nCentroids,
      s"maxProbe=$maxProbe must be in 1..$nCentroids")
    val cents = coarseCodebook(corpus, idCol, vecCol, nCentroids)
    val c = assignCells(corpus, cents, idCol, vecCol, "neighbor_id", "__cv")
    val q = assignProbes(queries, cents, idCol, vecCol, "query_id", "__qv", maxProbe)
    val truth = topKCosine(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__t"))
    val cand = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .select(col("query_id"), col("neighbor_id"), col("__cos"),
        explode(sequence(col("__pr").cast("int"), lit(maxProbe))).as("nprobe"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    val top = cand
      .withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= k)
    val possible = truth.agg(count(lit(1)).as("possible"))
    top.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("returned"),
        sum(coalesce(col("__t"), lit(0L))).as("hits"))
      .crossJoin(broadcast(possible))
      .select(col("nprobe").cast("long").as("nprobe"),
        col("returned"), col("hits").cast("long").as("hits"), col("possible"),
        round((col("hits").cast("double") / col("possible"))
          .cast("decimal(20,9)"), 6).cast("double").as("recall"))
  }

  /** Smallest nprobe whose measured recall@k on the sampled queries
    * meets `targetRecall`; `maxProbe` when none does (the curve is
    * non-decreasing, so that is the best available within the
    * budget). The collect is the ≤maxProbe-row curve — driver-safe. */
  def tuneProbes(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int,
      targetRecall: Double,
      maxProbe: Int): Int = {
    val curve = probeRecallCurve(corpus, queries, idCol, vecCol, k, nCentroids, maxProbe)
      .select(col("nprobe"), col("recall"))
      .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    (1 to maxProbe).find(p => curve.getOrElse(p, 0.0) >= targetRecall)
      .getOrElse(maxProbe)
  }

  /** FAISS-style re-ranking refine stage (the `IndexRefineFlat` idea):
    * take ANY approximate path's candidate shortlist — typically
    * produced with k′ ≫ k — fetch the exact corpus vectors for ONLY
    * those candidates, score them with the TRUE metric, and emit the
    * exact top-k per query.
    *
    * Why it helps: quantized paths (PQ/IVF-PQ ADC) rank by
    * approximate distances, so the true nearest neighbors are often
    * IN the k′ shortlist but mis-ordered; exact re-scoring recovers
    * them. Recall@k of the refined result is provably ≥ the
    * unrefined path's for the same candidate set: every refined
    * selection that displaces a true top-k item must itself have a
    * strictly better exact score, hence be a true top-k item too
    * (both sides break ties on ascending neighbor id).
    *
    * Scale shape: the candidate list is ≤|Q|·k′ rows — query-sized —
    * so it BROADCASTS; the corpus is scanned once and only candidate
    * rows survive the join (the full-precision vectors of
    * non-candidates are never materialized); query vectors broadcast
    * like every probe-side table here. The only shuffle is the
    * ≤|Q|·k′-row per-query window — independent of corpus size.
    *
    * `metric`: "cosine" (descending `cos_sim`) or "l2" (ascending
    * squared-L2 `dist`, [[Pq.l2sq]]'s exact fold).
    * Output: (query_id, neighbor_id, rank, cos_sim|dist round 6). */
  def refineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    val cand = candidates.select(col("query_id"), col("neighbor_id"))
    val withCv = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val (scoreCol, outName, ascending) =
      if (metric == "cosine") (cosine(col("__qv"), col("__cv")), "cos_sim", false)
      else (Pq.l2sq(col("__qv"), col("__cv")), "dist", true)
    val scored = withCv.join(broadcast(q), Seq("query_id"))
      .withColumn("__s", scoreCol)
    rankPerQuery(scored, k, corpus.schema(idCol).dataType, outName,
      ascending = ascending)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Per-group elementwise mean vector (e.g. label centroids — the
    * "training" step an IVF quantizer or a classifier head needs).
    * Scale shape: posexplode to (group, dim, value) rows, ONE
    * partial-aggregable groupBy on (group, dim) — map-side combine
    * absorbs the dimension fan-out — then re-assembly of the (tiny)
    * per-group aggregate via sort + collect. Never collects vectors to
    * the driver and never holds more than one (group, dim) cell per
    * combiner. */
  def groupCentroids(
      emb: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val exploded = emb.select(col(groupCol),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    exploded
      .groupBy(col(groupCol), col("dim"))
      // decimal sum: exact and order-free, so the mean is bit-stable
      // across partition merge orders AND engines (float sums are not)
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(20, 9)))
        .cast("double").as("s"), count(lit(1)).as("n"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("dim"), (col("s") / col("n")).as("m"))))
        .as("__cells"))
      .select(col(groupCol), transform(col("__cells"), _.getField("m")).as("centroid"))
  }

  /** DuckDB mirror of the [[withLshBucket]] bucket expression. */
  def lshBucketSql(vec: String): String =
    (0 until PlaneBits).map { p =>
      val w = s"(CAST((d * ${Ap(p)} + ${Bp(p)}) % 97 AS DOUBLE) / 97.0 - 0.5)"
      val proj = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(generate_series(1, len($vec)), " +
        s"d -> CAST(($vec)[d] AS DOUBLE) * $w)), (acc, x) -> acc + x)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
