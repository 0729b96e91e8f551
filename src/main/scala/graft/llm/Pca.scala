package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Top principal component of an embedding column by fixed-point
  * power iteration — the statistics step behind embedding whitening
  * and "all-but-the-top" (Mu & Viswanath 2018) post-processing, where
  * the corpus mean and dominant direction are removed to improve
  * isotropy before similarity search.
  *
  * Everything is fixed-point deterministic so the WHOLE computation —
  * mean, centered covariance, every matvec, every normalization —
  * replays bit-for-bit in the DuckDB oracle (`q_emb_top_pc`):
  * products are rounded to DECIMAL(20,9) before every sum (exact,
  * merge-order-free — the [[Similarity.groupCentroids]] pattern), the
  * start vector is the constant 1/8 = 0.125 (exactly representable),
  * and the iteration count is FIXED, not convergence-tested.
  *
  * Scale shape: the corpus is touched exactly twice — once for the
  * per-dimension mean (posexplode, (dim)-keyed partial-agg groupBy)
  * and once for the Gram accumulation (row per (vector, i, j), ONE
  * (i, j)-keyed partial-agg groupBy — map-side combine collapses the
  * dim² fan-out to d² cells per partition before the shuffle, the
  * standard distributed Gram-matrix shape). After that everything is
  * d²-sized metadata: matvecs are joins of the d²-row covariance with
  * a broadcast d-row vector, d = 64 here. Nothing corpus-sized ever
  * reaches the driver.
  */
object Pca {

  private val dec = DecimalType(20, 9)
  private def exactSum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Per-dimension corpus mean: (dim, mu) — 0-indexed, decimal-exact. */
  def meanVector(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg((exactSum(col("v")) / count(lit(1))).as("mu"))

  /** Centered covariance entries: (i, j, cov) — d² rows.
    * `exact = true` (the oracle mode) casts every product to
    * DECIMAL(20,9) before the sum so the result is merge-order-free
    * and bit-replayable; `exact = false` is the production float path
    * (plain double sums — same cells, last-ulp accumulation-order
    * nondeterminism, measured ~4.5× faster; SCALING.md row `top-pc-exact`). */
  def covariance(emb: DataFrame, vecCol: String, dim: Int,
      exact: Boolean = true): DataFrame =
    covarianceFrom(emb, vecCol, dim, meanVector(emb, vecCol), exact)

  private def covarianceFrom(
      emb: DataFrame, vecCol: String, dim: Int, mu: DataFrame,
      exact: Boolean): DataFrame = {
    val n = emb.count()
    // the d-row mean joins ONCE as an ordered array (one-row
    // broadcast); each vector centers itself with one zip_with, and
    // the second generate emits the decimal PRODUCTS directly — no
    // per-row mean joins, no element_at, and the inter-generate rows
    // carry one centered array instead of the raw vector plus two
    // join payloads. Same arithmetic per cell as the original
    // (cast-to-double subtract, double multiply, DECIMAL(20,9) cast),
    // so the oracle replay is unchanged.
    val muArr = mu // d doubles, one row; sort inside the aggregate
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
        s => s.getField("mu")).as("__mu"))
    val centered = emb.crossJoin(broadcast(muArr))
      .select(zip_with(col(vecCol), col("__mu"),
        (v, m) => v.cast("double") - m).as("__c"))
    val prods = centered
      .select(col("__c"), posexplode(col("__c")).as(Seq("i", "xi")))
      .select(col("i").cast("long").as("i"),
        posexplode(transform(col("__c"),
          xj => if (exact) (col("xi") * xj).cast(dec) else col("xi") * xj))
          .as(Seq("j", "p")))
    prods.groupBy(col("i"), col("j").cast("long").as("j"))
      .agg((sum(col("p")).cast("double") / n).as("cov"))
  }

  /** One power step: normalize(C·b). `b` is (j, b) — d rows (the
    * d²-sized metadata stage — always decimal-exact; its cost is
    * corpus-independent). */
  private def step(cov: DataFrame, b: DataFrame): DataFrame = {
    val c = cov.join(broadcast(b), "j")
      .groupBy(col("i"))
      .agg(exactSum(col("cov") * col("b")).as("c"))
    val norm = c.agg(sqrt(exactSum(col("c") * col("c"))).as("__n"))
    c.crossJoin(broadcast(norm))
      .select(col("i").as("j"), (col("c") / col("__n")).as("b"), col("__n"))
  }

  /** Top component after `iters` fixed power steps from the constant
    * 1/8 start. Output: (dim, mu, pc, eigval) — d rows; `eigval` is
    * the final step's pre-normalization magnitude ‖C·b‖ (the Rayleigh
    * estimate of λ₁), constant across rows. */
  def topComponent(
      emb: DataFrame,
      vecCol: String,
      dim: Int,
      iters: Int = 2,
      exact: Boolean = true): DataFrame =
    topComponentInternal(emb, vecCol, dim, iters, exact)._1

  /** [[topComponent]] with deterministic cache release: runs `use` on
    * the statistics relation and unpersists the internal d-row/d²-row
    * caches afterwards — for long-lived drivers where [[topComponent]]'s
    * caches (reclaimed only by LRU) would accumulate. */
  def topComponentScoped[T](
      emb: DataFrame, vecCol: String, dim: Int,
      iters: Int = 2, exact: Boolean = true)(use: DataFrame => T): T = {
    val (df, caches) = topComponentInternal(emb, vecCol, dim, iters, exact)
    try use(df)
    finally caches.foreach(_.unpersist(blocking = false))
  }

  private def topComponentInternal(
      emb: DataFrame,
      vecCol: String,
      dim: Int,
      iters: Int,
      exact: Boolean): (DataFrame, Seq[DataFrame]) = {
    val spark = emb.sparkSession
    // persist the d-row mean and d²-row covariance: every power step
    // AND the final join reference them, and without the cache each
    // reference re-runs the corpus-sized mean/Gram passes (the cached
    // state is d²-sized — safe at any corpus scale; lifetime: released
    // by the *Scoped variants, else left to LRU — documented)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val mu = meanVector(emb, vecCol).persist(lvl)
    val cov = covarianceFrom(emb, vecCol, dim, mu, exact).persist(lvl)
    var b = spark.range(dim).select(col("id").as("j"), lit(0.125).as("b"),
      lit(0.0).as("__n"))
    for (_ <- 1 to iters) b = step(cov, b.select(col("j"), col("b")))
    // round through DECIMAL(20,9): exact decimal rounding on both
    // engines, instead of double-arithmetic round() whose 6th-decimal
    // boundaries the two engines can resolve differently
    def out(c: Column) = round(c.cast(dec), 6).cast("double")
    val res = mu
      .join(b.select(col("j").as("dim"), col("b").as("__pc"), col("__n")), "dim")
      .select(col("dim"), out(col("mu")).as("mu"),
        out(col("__pc")).as("pc"), out(col("__n")).as("eigval"))
    (res, Seq(mu, cov))
  }

  /** All-but-the-top post-processing (Mu & Viswanath 2018): center
    * every vector and remove its projection onto the dominant
    * component — v' = (v − μ) − ⟨v − μ, u⟩u — the standard isotropy
    * fix applied before cosine retrieval. Consumes [[topComponent]]'s
    * ROUNDED (μ, u), so both engines share the statistics bitwise;
    * each per-vector projection is a DECIMAL-exact (vec)-keyed sum.
    *
    * Scale shape: the statistics pass is [[topComponent]] (corpus
    * touched twice, then d²-sized metadata); the transform itself is
    * one posexplode joined to the broadcast d-row statistics table and
    * ONE (vec)-keyed partial-agg groupBy for the projection — applied
    * corpus-wide it is a single map + one narrow-key shuffle.
    * Output: (vec_id, dim, value) — the transformed entries, round 6. */
  def allButTheTop(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      iters: Int = 2): DataFrame =
    allButTheTopInternal(emb, idCol, vecCol, dim, iters)._1

  /** [[allButTheTop]] with deterministic cache release (see
    * [[topComponentScoped]]). */
  def allButTheTopScoped[T](
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      iters: Int = 2)(use: DataFrame => T): T = {
    val (df, caches) = allButTheTopInternal(emb, idCol, vecCol, dim, iters)
    try use(df)
    finally caches.foreach(_.unpersist(blocking = false))
  }

  private def allButTheTopInternal(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      iters: Int): (DataFrame, Seq[DataFrame]) = {
    val (tc0, caches) = topComponentInternal(emb, vecCol, dim, iters, exact = true)
    val tc = tc0.select(col("dim"), col("mu"), col("pc"))
    val ex = emb.select(col(idCol).cast("long").as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val ctr = ex.join(broadcast(tc), "dim")
      .withColumn("__c", col("v") - col("mu"))
    val pr = ctr.groupBy(col("vec_id"))
      .agg(exactSum(col("__c") * col("pc")).as("__p"))
    val res = ctr.join(pr, "vec_id")
      .select(col("vec_id"), col("dim"),
        round((col("__c") - col("__p") * col("pc")).cast(dec), 6)
          .cast("double").as("value"))
    (res, caches)
  }
}
