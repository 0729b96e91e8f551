package graft.functions

import graft.SparkTestSession
import graft.core.Tables
import graft.llm.{Similarity, Sq, Urls}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the k-bounded top-k aggregation against the generic
  * window arm it replaces, plus the ordering edge cases the comparator
  * must mirror from Spark's sort (NaN-greatest doubles, merge-order
  * independence). The window arm serves non-integral ids, so the specs
  * reach it with zero-padded string ids: they sort like the numbers,
  * so both arms must return the same rows once cast back. */
class BoundedTopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** `vec_id` as a zero-padded string, which routes ranking through
    * the window arm. */
  private def padded(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("vec_id", lpad(col("vec_id").cast("string"), 12, "0"))

  /** A window-arm result with its string ids cast back to BIGINT. */
  private def unpadded(df: org.apache.spark.sql.DataFrame) = {
    assert(df.schema("neighbor_id").dataType === org.apache.spark.sql.types.StringType)
    assert(df.queryExecution.executedPlan.toString.contains("Window"),
      "string ids must rank through the window arm")
    df.withColumn("query_id", col("query_id").cast("long"))
      .withColumn("neighbor_id", col("neighbor_id").cast("long"))
  }

  private def types(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  test("topKCosine: native bounded agg equals the window arm bit-for-bit") {
    val q = emb.filter(col("vec_id") < 8)
    val native = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
    val window = unpadded(
      Similarity.topKCosine(padded(emb), padded(q), "vec_id", "embedding", k = 5))
    assert(types(native) === types(window))
    assert(rows(native) === rows(window))
    assert(native.count() === 8 * 5)
  }

  test("sq coded scan: native bounded agg equals the window arm bit-for-bit") {
    val q = emb.filter(col("vec_id") < 16)
    val idx = Sq.buildIndex(emb, "vec_id", "embedding")
    val native = Sq.topKCosineCoded(idx, q, "vec_id", "embedding", k = 3)
    val window = unpadded(
      Sq.topKCosineCoded(padded(idx), padded(q), "vec_id", "embedding", k = 3))
    assert(types(native) === types(window))
    assert(rows(native) === rows(window))
  }

  test("topKCosine family over zero-padded string ids ranks like the integral ids") {
    // the window arm is the only path for non-integral ids: exact scan,
    // IVF cells, multi-probe LSH and the ascending L2 refine all end in it
    val q = emb.filter(col("vec_id") < 12)
    val (pe, pq) = (padded(emb), padded(q))
    def same(native: org.apache.spark.sql.DataFrame, window: org.apache.spark.sql.DataFrame) = {
      val w = unpadded(window)
      assert(types(native) === types(w))
      assert(rows(native) === rows(w))
    }
    same(Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 7),
      Similarity.topKCosine(pe, pq, "vec_id", "embedding", k = 7))
    // one codebook for both runs: a sampled one hashes the id text
    val book = Similarity.coarseCodebook(emb, "vec_id", "embedding", 4)
    same(Similarity.topKCosineIvfTrained(emb, q, "vec_id", "embedding", k = 4, book),
      Similarity.topKCosineIvfTrained(pe, pq, "vec_id", "embedding", k = 4, book))
    same(Similarity.topKCosineBucketedMultiProbe(emb, q, "vec_id", "embedding", k = 4),
      Similarity.topKCosineBucketedMultiProbe(pe, pq, "vec_id", "embedding", k = 4))
    val cand = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 20)
    same(Similarity.refineTopK(emb, q, cand, "vec_id", "embedding", k = 5, metric = "l2"),
      Similarity.refineTopK(pe, pq,
        cand.select(lpad(col("query_id").cast("string"), 12, "0").as("query_id"),
          lpad(col("neighbor_id").cast("string"), 12, "0").as("neighbor_id")),
        "vec_id", "embedding", k = 5, metric = "l2"))
  }

  test("result is independent of partitioning (merge-order robustness)") {
    val q = emb.filter(col("vec_id") < 4)
    val one = Similarity.topKCosine(emb.repartition(1), q, "vec_id", "embedding", k = 5)
    val many = Similarity.topKCosine(emb.repartition(17), q, "vec_id", "embedding", k = 5)
    assert(rows(one) === rows(many))
  }

  test("NaN scores rank first, like Spark's descending double sort") {
    // ANSI mode means cosine itself can't mint a NaN from 0/0 (it
    // throws), but upstream scores can still carry NaN — pin the heap
    // against the window's desc ordering directly
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, 0.9),
      (1L, 13L, Double.NaN), (2L, 14L, 0.1)).toDF("g", "id", "s")
    val native = scored.groupBy(col("g"))
      .agg(BoundedTopK.topKByScore(2, col("s"), col("id")).as("__top"))
      .select(col("g"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("g"), col("__e.id").as("id"), (col("__pos") + 1).as("rank"),
        col("__e.s").as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("id").asc)
    val window = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2).select(col("g"), col("id"), col("rank"), col("s"))
    // compare string renderings: Scala boxes compare NaN numerically
    // (NaN != NaN), which would fail even on identical row sets
    def strRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    assert(strRows(native) === strRows(window))
    val g1 = native.filter(col("g") === 1).orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(g1(0)._1 === 11L && g1(0)._2.isNaN, s"NaN (smallest id) must rank 1: ${g1.toSeq}")
    assert(g1(1)._1 === 13L && g1(1)._2.isNaN, s"NaN must out-rank 0.9: ${g1.toSeq}")
  }

  test("hostCap: bounded-agg survivors equal the brute-force rank") {
    val urls = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 7).cast("string"),
        lit(".example.com/p/"), col("id").cast("string")).as("url"))
    val capped = Urls.hostCap(urls, "doc_id", "url", maxPerHost = 50)
    // brute force: per host, the 50 smallest doc_ids survive
    val got = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = (0L until 2000L).groupBy(_ % 7).values
      .flatMap(_.sorted.take(50)).toSet
    assert(got === want)
  }

  test("hostCap refuses non-integral id columns (the keep-list is BIGINT)") {
    val urls = Seq(("a", "https://x.example.com/1")).toDF("doc_id", "url")
    val e = intercept[IllegalArgumentException] {
      Urls.hostCap(urls, "doc_id", "url", maxPerHost = 1)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("smallestLongs skips nulls and keeps the k smallest, ascending") {
    val df = Seq(
      (1L, Some(9L)), (1L, Some(2L)), (1L, None), (1L, Some(5L)),
      (1L, Some(1L)), (2L, Some(4L))).toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(BoundedTopK.smallestLongs(2, col("v")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) === Seq(1L, 2L))
    assert(got(2L) === Seq(4L))
  }
}
