package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Direct n-gram Jaccard near-duplicate pairs via an inverted-index
  * self-join — the exact counterpart of [[MinHash.nearDuplicates]]
  * (which approximates candidate generation with banded signatures).
  *
  * Candidate pairs are documents sharing at least one NON-UBIQUITOUS
  * shingle: the inverted index (shingle-hash -> doc list) is df-capped
  * at `maxDf`, the standard prefix/frequency filter — a shingle
  * appearing in more than `maxDf` documents contributes no candidates
  * (it would fan out df² pairs while implying next to nothing about
  * similarity). Verification then computes the EXACT Jaccard over the
  * full shingle sets, so the df cap can only lose pairs whose every
  * common shingle is ubiquitous — at a Jaccard threshold those pairs
  * are noise by construction.
  *
  * Scale shape: one shuffle keyed on the shingle hash (the inverted
  * index), one on the (id_a, id_b) pair key for intersection counts.
  * Per-shingle work is bounded by maxDf² — no all-pairs product ever
  * forms, and a degenerate corpus cannot create a hot key beyond the
  * cap. This is the textbook 100 TB dedup join.
  */
object Jaccard {

  /** Near-duplicate pairs (id_a < id_b) with exact shingle Jaccard.
    * Output: id_a, id_b, inter, size_a, size_b, jaccard. */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.1,
      maxDf: Int = 50,
      hash: Column => Column = TextHash.polyHash): DataFrame = {
    val sh = MinHash.shingleHashes(docs, idCol, textCol, n, hash).distinct()
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val idx = sh.join(rare, "h")
    val pairs = idx.toDF("h", "id_a").join(idx.toDF("h", "id_b"), "h")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.toDF("id_a", "h"), "id_a")
      .join(sh.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "size_a"), "id_a")
      .join(sizes.toDF("id_b", "size_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** At-rest side-tables that make [[nearDuplicatesIncremental]] fully
    * increment-sized: the per-shingle document frequency and the
    * per-document shingle-set size of the indexed corpus. Build once
    * next to the shingle index (bucket dfs by h, sizes by the id) and
    * maintain them by ADDING each increment's own aggregates —
    * without them the incremental step pays one linear reduction over
    * the index per increment for each (measured at sf1; SCALING.md
    * row `jaccard-side`). */
  def indexDfs(index: DataFrame): DataFrame =
    index.toDF("__id", "h").groupBy(col("h")).agg(count(lit(1)).as("df"))

  def indexSizes(index: DataFrame, idCol: String): DataFrame =
    index.toDF(idCol, "h").groupBy(col(idCol)).agg(count(lit(1)).as("sz"))

  /** INCREMENTAL n-gram Jaccard near-dup: a NEW batch against the
    * accumulated corpus's at-rest [[MinHash.shingleIndex]] — the SAME
    * (id, shingle-hash) artifact the incremental MinHash path serves
    * from, so one stored index feeds both dedup flavors. Bit-identical
    * to [[nearDuplicates]] over old ∪ new restricted to pairs with
    * ≥ 1 new doc: the `maxDf` boilerplate cap counts document
    * frequency over the UNION (exactly the batch df), candidates are
    * new×old + new×new inverted-index collisions (old×old never
    * joins), and the exact-Jaccard verify reads only the index rows
    * the candidate pairs touch. Ids must be disjoint.
    *
    * `sideTables = Some((indexDfs, indexSizes))` (the [[indexDfs]] /
    * [[indexSizes]] at-rest artifacts) removes the two remaining
    * LINEAR passes over the index — the union df count and the sizes
    * aggregate become increment-keyed joins against stored relations —
    * making the whole step increment-sized. Output is bit-identical
    * with or without them. */
  def nearDuplicatesIncremental(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 3,
      threshold: Double = 0.1,
      maxDf: Int = 50,
      hash: Column => Column = TextHash.polyHash,
      sideTables: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val shNew = MinHash.shingleHashes(newDocs, idCol, textCol, n, hash).distinct()
    val shOld = index.toDF(idCol, "h")
    // over-cap keys under the UNION df (exactly the batch df). Only
    // increment-touched keys can generate candidates (every pair has a
    // new member), so with the at-rest df side-table the check is an
    // increment-keyed left join — no pass over the index; without it,
    // one linear groupBy over the union.
    val over = sideTables match {
      case Some((dfs, _)) =>
        shNew.groupBy(col("h")).agg(count(lit(1)).as("__ndf"))
          .join(dfs.toDF("h", "__odf"), Seq("h"), "left")
          .filter(col("__ndf") + coalesce(col("__odf"), lit(0L)) > maxDf)
          .select(col("h"))
      case None =>
        shNew.select(col("h")).unionByName(shOld.select(col("h")))
          .groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("h"))
    }
    // using-columns joins move the key first — re-select by name
    val gN = shNew.join(Guards.broadcastBounded(over), Seq("h"), "left_anti")
      .select(col(idCol), col("h"))
    val gO = shOld.join(Guards.broadcastBounded(over), Seq("h"), "left_anti")
      .select(col(idCol), col("h"))
    val newOld = gN.toDF("id_n", "h")
      .join(gO.toDF("id_o", "h"), Seq("h"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
    val newNew = gN.toDF("id_a", "h")
      .join(gN.toDF("id_b", "h"), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val pairs = newOld.unionByName(newNew).distinct()
    // sizes: with the at-rest side-table, the old half is a stored
    // relation the id-keyed join reads (only pair members survive it —
    // no aggregate over the index); without it, one linear groupBy.
    // (Restricting the verify to pair members via a semi-join was also
    // measured at sf1 and LOST — 12.5 s plain/broadcast vs 9.2 s: the
    // pair subtree re-executes per reference, costing more than the
    // linear pass it saves. The quadratic old×old term is structurally
    // absent either way.)
    val sh = shNew.unionByName(shOld)
    val newSizes = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val sizes = sideTables match {
      case Some((_, idxSizes)) => newSizes.unionByName(idxSizes.toDF(idCol, "sz"))
      case None => sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    }
    val inter = pairs
      .join(sh.toDF("id_a", "h"), "id_a")
      .join(sh.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "size_a"), "id_a")
      .join(sizes.toDF("id_b", "size_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }
}
