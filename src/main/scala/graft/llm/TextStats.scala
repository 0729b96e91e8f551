package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, n-gram-free language ID, and whole-document
  * fingerprints. Everything is per-row column algebra (no shuffle) until
  * an explicit aggregate, so the operators ride the source partitioning
  * at any scale; aggregates are integer-sum based (exact, order-free)
  * with a single final division to avoid float-accumulation
  * nondeterminism across partitions.
  *
  * The token counters are codegen'd expressions over the
  * [[Shingles.tokens]] array: marker hits are
  * [[graft.functions.MarkerHits]] and distinct counts
  * [[graft.functions.DistinctCount]], each the value of its composable
  * form (`size(filter(...))`, `size(array_distinct(...))`) without an
  * interpreted lambda or an intermediate array. The DuckDB mirrors
  * below mirror those composable forms.
  */
object TextStats {

  /** Tiny per-language stopword marker lists for the heuristic language
    * scorer. (A real pipeline ships larger lists; the mechanism —
    * argmax over per-language token-hit counts — is the operator.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "la", "les", "et"),
    "zh" -> Seq("de", "le", "he", "shi"))

  val Stopwords: Seq[String] = Seq("a", "the")

  def tokenCount(text: Column): Column = size(Shingles.tokens(text))

  /** BPE-ish subword-count proxy: runs of letters, runs of digits, and
    * individual punctuation marks each count once — the cheap
    * whole-corpus token estimator a curation pipeline runs before real
    * tokenization. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern))

  /** Number of distinct tokens, `size(array_distinct(toks))`: a null
    * element counts once. */
  def distinctCountOfTokens(toks: Column): Column =
    graft.functions.TextExpressions.distinctCountNative(toks)

  def distinctTokenCount(text: Column): Column =
    distinctCountOfTokens(Shingles.tokens(text))

  /** Number of non-null array elements exactly matching any word in
    * `words`, `size(filter(toks, t => t === w1 || ...))`. */
  def markerHitsOfTokens(toks: Column, words: Seq[String]): Column =
    graft.functions.TextExpressions.markerHitsNative(toks, words)

  /** Number of tokens exactly matching any word in `words`. */
  def markerHits(text: Column, words: Seq[String]): Column =
    markerHitsOfTokens(Shingles.tokens(text), words)

  /** [[langId]] over a materialized token-array column. Each marker
    * list is counted once; one `greatest` over (hits, rank, lang)
    * structs then picks the first declared language with the largest
    * positive count. The ("und", 0) candidate ranks above every
    * language, so it wins at zero hits, and null counts (null tokens)
    * sort below it. The expression grows linearly with [[LangMarkers]]. */
  def langIdOfTokens(toks: Column): Column = {
    val hits = ("und" -> lit(0)) +:
      LangMarkers.map { case (lang, words) => lang -> markerHitsOfTokens(toks, words) }
    greatest(hits.zipWithIndex.map { case ((lang, n), i) =>
      struct(n.as("hits"), lit(-i).as("rank"), lit(lang).as("lang"))
    }: _*).getField("lang")
  }

  /** Heuristic language ID: argmax over [[LangMarkers]] hit counts,
    * ties to the first declared language; zero-hit documents resolve to
    * "und" (undetermined). */
  def langId(text: Column): Column = langIdOfTokens(Shingles.tokens(text))

  /** [[qualityScore]] over a materialized token-array column. */
  def qualityScoreOfTokens(toks: Column): Column = {
    val n = size(toks).cast("double")
    val lenScore = least(n / 100.0, lit(1.0))
    val diversity = distinctCountOfTokens(toks).cast("double") / n
    val stopRatio = markerHitsOfTokens(toks, Stopwords).cast("double") / n
    lit(0.4) * lenScore + lit(0.4) * diversity + lit(0.2) * (lit(1.0) - stopRatio)
  }

  /** Per-document quality score in [0,1]:
    * 0.4·min(tokens/100,1) + 0.4·(distinct/tokens) + 0.2·(1 − stopRatio). */
  def qualityScore(text: Column): Column =
    qualityScoreOfTokens(Shingles.tokens(text))

  /** Whole-document rolling-hash fingerprint (exact-dup key). */
  def fingerprint(text: Column, hash: Column => Column = TextHash.polyHash): Column =
    hash(lower(text))

  /** Exact-duplicate clustering: every row gets its cluster's canonical
    * (minimum) id and the cluster size, keyed by [[fingerprint]].
    * A groupBy on the fingerprint — the canonical exact-dedup shuffle —
    * then a broadcast-friendly join back. */
  def exactDupClusters(docs: DataFrame, idCol: String, textCol: String,
      hash: Column => Column = TextHash.polyHash): DataFrame = {
    val withFp = docs.select(col(idCol), fingerprint(col(textCol), hash).as("fp"))
    val clusters = withFp.groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("cluster_size"))
    withFp.join(clusters, "fp")
      .select(col(idCol), col("fp"), col("canonical_id"), col("cluster_size"))
  }

  /** The AT-REST exact-dedup index of a corpus: one row per distinct
    * fingerprint — (fp, canonical_id, cluster_size). Everything the
    * accumulated side of incremental exact dedup ever needs; write it
    * once (bucketed by fp) and feed every future increment
    * [[exactDupClustersIncremental]]; merge
    * [[exactDupIndexDelta]]'s rows back afterwards. */
  def exactDupIndex(docs: DataFrame, idCol: String, textCol: String,
      hash: Column => Column = TextHash.polyHash): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol), hash).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("cluster_size"))

  /** The merged per-fingerprint rows an increment produces: for every
    * fp the NEW batch touches, the globally-correct
    * (fp, canonical_id, cluster_size) over old ∪ new — `least` of the
    * at-rest canonical and the batch minimum, sizes summed. Upsert
    * these into the at-rest [[exactDupIndex]]; untouched fps never
    * move. One increment-sized groupBy + one fp-keyed join against
    * the index (bucket the index by fp to make it exchange-free). */
  def exactDupIndexDelta(newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame,
      hash: Column => Column = TextHash.polyHash): DataFrame = {
    val newAgg = newDocs
      .select(col(idCol), fingerprint(col(textCol), hash).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("__new_min"), count(lit(1)).as("__new_n"))
    newAgg.join(index.toDF("fp", "__old_canon", "__old_n"), Seq("fp"), "left")
      .select(col("fp"),
        least(coalesce(col("__old_canon"), col("__new_min")), col("__new_min"))
          .as("canonical_id"),
        (coalesce(col("__old_n"), lit(0L)) + col("__new_n")).as("cluster_size"))
  }

  /** INCREMENTAL exact dedup: the [[exactDupClusters]] decision for a
    * NEW batch against the accumulated corpus's at-rest
    * [[exactDupIndex]] — bit-identical to the batch run over old ∪ new
    * restricted to new ids (cluster sizes and canonicals count the old
    * members; the old corpus itself is never re-fingerprinted or
    * re-grouped). Ids must be disjoint across the two inputs. */
  def exactDupClustersIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame,
      hash: Column => Column = TextHash.polyHash): DataFrame = {
    val withFp = newDocs.select(col(idCol), fingerprint(col(textCol), hash).as("fp"))
    withFp.join(exactDupIndexDelta(newDocs, idCol, textCol, index, hash), "fp")
      .select(col(idCol), col("fp"), col("canonical_id"), col("cluster_size"))
  }

  // ----- DuckDB mirrors -----

  def markerHitsSql(toksExpr: String, words: Seq[String]): String = {
    val cond = words.map(w => s"t = '$w'").mkString(" OR ")
    s"len(list_filter($toksExpr, t -> $cond))"
  }

  /** Nested-CASE mirror of [[langId]] over a token-list expression. */
  def langIdSql(toksExpr: String): String = {
    val scores = LangMarkers.map { case (lang, words) => lang -> markerHitsSql(toksExpr, words) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    scores.foldLeft("'und'") { case (acc, (lang, s)) =>
      s"(CASE WHEN $s = $best AND $s > 0 AND $acc = 'und' THEN '$lang' ELSE $acc END)"
    }
  }
}
