package graft.functions

import graft.SparkTestSession
import graft.llm.{Shingles, TextReference, TextStats}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd [[Tokens]], [[MarkerHits]] and [[DistinctCount]] must
  * give what their composable forms in `graft.llm.TextReference` give —
  * values, element order, types and nullability — or every
  * `q_doc_*` oracle and the curation gate would silently move.
  *
  * Documents are drawn by scalacheck from words (markers, `İ`/`Σ`/`ß`,
  * CJK) and separators that straddle the whitespace contract: the six
  * `\s` characters split, while `\u0085`, `\u00A0`, `\u2028` and
  * `\u001C`–`\u001F` are token characters. Token arrays for the counters
  * add null elements and duplicates. Every case runs on both evaluation
  * paths: a local relation (the optimizer folds the projection with
  * interpreted eval) and an RDD-backed frame with codegen required
  * (`factoryMode` CODEGEN_ONLY, no fallback on a compile error). */
class TokenExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val splitting = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
  private val nonSplitting =
    Seq("\u0085", "\u00A0", "\u2028", "\u001C", "\u001D", "\u001E", "\u001F")
  private val markerWords = (TextStats.LangMarkers.flatMap(_._2) ++ TextStats.Stopwords).distinct
  private val words = Gen.frequency(
    4 -> Gen.oneOf(markerWords),
    2 -> Gen.oneOf("The", "LA", "İ", "Σ", "ΣΑΣ", "ß", "STRASSE", "日本語", "ÀÉ", "x1", "--"),
    1 -> Gen.alphaStr.map(_.take(5)))
  private val sepRun: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(5 -> Gen.oneOf(splitting), 2 -> Gen.oneOf(nonSplitting)))
      .map(_.take(4).mkString)
  private val genDoc: Gen[String] = for {
    lead <- Gen.oneOf(Gen.const(""), sepRun)
    ws <- Gen.listOf(words)
    seps <- Gen.listOfN(math.max(ws.size - 1, 0), sepRun)
    trail <- Gen.oneOf(Gen.const(""), sepRun)
  } yield lead + (ws.take(1) ++ seps.zip(ws.drop(1)).map { case (s, w) => s + w }).mkString + trail

  private val genToks: Gen[Seq[String]] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf(markerWords), 2 -> words, 1 -> Gen.const(null: String)))

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default.withSize(20)
    Iterator.iterate(Seed(seed))(_.next).take(n).map(s => g.pureApply(params, s)).toSeq
  }

  private val docs: Seq[String] = sample(genDoc, 500, 20261018L) ++ Seq(
    null, "", " ", "\t\n\u000B\f\r ", "\u00A0", "\u2028\u0085",
    "  lead", "trail \r\n", "İstanbul ΣΑΣ ß", "a\u00A0b\u001Fc d")

  private val tokArrays: Seq[Seq[String]] = sample(genToks, 400, 20261019L) ++ Seq(
    null, Seq.empty, Seq(null), Seq(null, null, "the"), Seq("a", "a", "A", "the", "the"))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `check` on a local relation, then on an RDD-backed frame with
    * generated code required. */
  private def onBothPaths(rows: Seq[Row], schema: StructType)(check: (String, DataFrame) => Unit): Unit = {
    check("local relation", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false") {
      check("rdd (codegen)", spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
    }
  }

  /** Asserts the named native/reference column pairs agree in type and
    * nullability and then row by row (`same` compares one pair). */
  private def assertPairs(path: String, df: DataFrame, pairs: Seq[(String, Column, Column)])(
      same: (Any, Any) => Boolean): Unit = {
    val cols = pairs.flatMap { case (name, n, r) => Seq(n.as(s"${name}_n"), r.as(s"${name}_r")) }
    val out = df.select(col("id") +: cols: _*)
    pairs.map(_._1).foreach { name =>
      val Seq(n, r) = Seq("_n", "_r").map(s => out.schema(name + s))
      assert((n.dataType, n.nullable) === (r.dataType, r.nullable), s"$path: $name type")
    }
    out.collect().foreach { row =>
      pairs.indices.foreach { k =>
        val (n, r) = (row.get(1 + 2 * k), row.get(2 + 2 * k))
        assert(same(n, r), s"$path: ${pairs(k)._1} of row ${row.getInt(0)}: $n != $r")
      }
    }
  }

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b // element-wise for the collected Seqs, null-safe
  }

  private val textSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false), StructField("text", StringType)))
  private val toksSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("toks", ArrayType(StringType, containsNull = true))))

  /** Every marker list's hits and the distinct count: native over
    * `toks`, composable over `ref`. */
  private def counterPairs(toks: Column, ref: Column): Seq[(String, Column, Column)] =
    (TextStats.LangMarkers.map(_._2) :+ TextStats.Stopwords).zipWithIndex.map { case (ws, i) =>
      (s"hits$i", TextStats.markerHitsOfTokens(toks, ws), TextReference.markerHitsOfTokens(ref, ws))
    } :+ ("distinct", TextStats.distinctCountOfTokens(toks), TextReference.distinctCountOfTokens(ref))

  test("the generated documents reach every corner of the whitespace contract") {
    val texts = docs.filter(_ != null)
    (splitting ++ nonSplitting ++ Seq("İ", "Σ", "ß")).foreach { c =>
      assert(texts.count(_.contains(c)) >= 5, s"too few documents hold ${c.map(_.toInt)}")
    }
    def isSep(c: Char) = (splitting ++ nonSplitting).exists(_.head == c)
    assert(texts.count(t => t.nonEmpty && isSep(t.head)) >= 50)
    assert(texts.count(t => t.nonEmpty && isSep(t.last)) >= 50)
    assert(texts.count(_.isEmpty) >= 1)
    assert(tokArrays.count(t => t != null && t.contains(null)) >= 50)
    assert(tokArrays.count(t => t != null && t.distinct.size < t.size) >= 100)
  }

  test("tokens, hits, distinct counts and quality of documents == the composable forms") {
    val rows = docs.zipWithIndex.map { case (t, i) => Row(i, t) }
    onBothPaths(rows, textSchema) { (path, df) =>
      val toks = df.select(col("id"), Shingles.tokens(col("text")).as("toks"),
        TextReference.tokens(col("text")).as("ref"))
      assertPairs(path, df, Seq(("tokens", Shingles.tokens(col("text")),
        TextReference.tokens(col("text")))))(sameValue)
      assertPairs(path, toks, counterPairs(col("toks"), col("ref")) :+ ((
        "quality",
        when(size(col("toks")) > 0, TextStats.qualityScoreOfTokens(col("toks"))),
        when(size(col("ref")) > 0, TextReference.qualityScoreOfTokens(col("ref"))))))(sameValue)
    }
  }

  test("text with malformed UTF-8 tokenises as the regex split does") {
    // Lower decodes malformed bytes to U+FFFD, so the byte scan sees valid UTF-8
    val bytes = Seq(Array[Byte](0x61, 0xC3.toByte, 0x20, 0xFF.toByte, 0x62, 0x0B, 0xE2.toByte, 0x80.toByte),
      Array[Byte](0x41, 0xC3.toByte, 0x89.toByte, 0x09, 0xF0.toByte, 0x28, 0x8C.toByte, 0x28))
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false), StructField("b", BinaryType)))
    onBothPaths(bytes.zipWithIndex.map { case (b, i) => Row(i, b) }, schema) { (path, df) =>
      val text = col("b").cast("string")
      assertPairs(path, df, Seq(("tokens", Shingles.tokens(text), TextReference.tokens(text))))(sameValue)
    }
  }

  test("hits and distinct counts over arrays with null elements, duplicates and null == the composable forms") {
    val rows = tokArrays.zipWithIndex.map { case (t, i) => Row(i, t) }
    onBothPaths(rows, toksSchema) { (path, df) =>
      assertPairs(path, df, counterPairs(col("toks"), col("toks")))(sameValue)
    }
    // a null element counts once; null arrays stay null
    val got = spark.createDataFrame(java.util.Arrays.asList(
      Row(0, Seq(null, "a", null, "a", "the")), Row(1, null)), toksSchema)
      .select(TextStats.distinctCountOfTokens(col("toks")),
        TextStats.markerHitsOfTokens(col("toks"), TextStats.Stopwords))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(got === Seq((3, 3), (null, null)))
  }

  test("under legacy sizeOfNull a null array counts -1, as size does") {
    val rows = Seq(Row(0, null), Row(1, Seq("a", null)))
    withConf("spark.sql.ansi.enabled" -> "false", "spark.sql.legacy.sizeOfNull" -> "true") {
      onBothPaths(rows, toksSchema) { (path, df) =>
        assertPairs(path, df, counterPairs(col("toks"), col("toks")))(sameValue)
        assert(df.select(TextStats.distinctCountOfTokens(col("toks"))).collect()
          .map(_.get(0)).toSeq === Seq(-1, 2), path)
      }
    }
  }
}
