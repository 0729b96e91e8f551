package graft.llm

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[TextStats.langIdOfTokens]] must equal a plain-Scala reference: the
  * first declared language with the largest positive marker-hit count,
  * else "und". Token arrays are drawn by scalacheck from the marker
  * words plus noise, so cross-language ties come up often (`la` is both
  * es and fr, `le` both fr and zh). All cases run in one Spark job per
  * evaluation path: a local relation (constant-folded by the optimizer,
  * interpreted) and an RDD-backed frame (whole-stage codegen). */
class LangIdPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hits(toks: Seq[String]): Seq[(String, Int)] =
    TextStats.LangMarkers.map { case (lang, words) =>
      lang -> Option(toks).fold(0)(_.count(t => t != null && words.contains(t))) }

  private def reference(toks: Seq[String]): String = {
    val h = hits(toks)
    val best = h.map(_._2).max
    if (best == 0) "und" else h.find(_._2 == best).get._1
  }

  private def tied(toks: Seq[String]): Boolean = {
    val h = hits(toks).map(_._2)
    h.max > 0 && h.count(_ == h.max) > 1
  }

  private val markerWords = TextStats.LangMarkers.flatMap(_._2).distinct
  private val noise = Gen.oneOf(
    Gen.alphaLowerStr.map(_.take(6)),
    Gen.oneOf("The", "LA", "thee", "la.", "und,", "house", "katze"),
    Gen.const(null: String))
  private val genToks: Gen[Seq[String]] =
    Gen.listOf(Gen.frequency(3 -> Gen.oneOf(markerWords), 1 -> noise))

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("toks", ArrayType(StringType, containsNull = true))))

  /** Checks every case on both evaluation paths. */
  private def assertMatchesReference(cases: Seq[Seq[String]]): Unit = {
    val rows = cases.zipWithIndex.map { case (t, i) => Row(i, t) }
    Seq(
      "local relation" -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      "rdd (codegen)" -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    ).foreach { case (path, df) =>
      val got = df.select(col("id"), TextStats.langIdOfTokens(col("toks")))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      cases.zipWithIndex.foreach { case (t, i) =>
        assert(got(i) === reference(t), s"$path: toks=$t")
      }
    }
  }

  test("langIdOfTokens == reference argmax on 400 generated token arrays") {
    val params = Gen.Parameters.default.withSize(24)
    val cases = Iterator.iterate(Seed(20261017L))(_.next).take(400)
      .map(s => genToks.pureApply(params, s)).toSeq
    // the generator must actually exercise the contract's corners
    assert(cases.count(reference(_) == "und") >= 10)
    assert(cases.count(tied) >= 20)
    assertMatchesReference(cases)
  }

  test("ties go to the first declared language; zero hits, empty and null arrays give und") {
    val cases = Seq(
      Seq("la"),                  // es = fr = 1 -> es
      Seq("le"),                  // fr = zh = 1 -> fr
      Seq("la", "le"),            // fr = 2 beats es = zh = 1
      Seq("the", "der"),          // en = de = 1 -> en
      Seq("shi", "he", "the"),    // zh = 2 beats en = 1
      Seq("xyzzy", "The", null),  // no hits
      Seq.empty[String],
      null)
    val expected = Seq("es", "fr", "fr", "en", "zh", "und", "und", "und")
    assert(cases.map(reference) === expected)
    assertMatchesReference(cases)
  }
}
