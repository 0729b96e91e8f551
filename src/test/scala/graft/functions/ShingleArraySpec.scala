package graft.functions

import graft.SparkTestSession
import graft.llm.Shingles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ShingleArray]] must equal `array_distinct(Shingles.shingles(toks,
  * n))` element-for-element (values AND order) on arbitrary documents —
  * the native expression replaces the interpreted HOF chain in
  * MinHash.shingleHashes, so any divergence would silently change every
  * dedup-family oracle. */
class ShingleArraySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val docs: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = Seq("a", "b", "cc", "ÀÉ", "日本語", "x1", "--", "a", "b")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    (1 to 60).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
    } ++ Seq("", " ", "one", "one two", "a a a a a", "\t\n", "çç ÇÇ çç ÇÇ")
  }

  test("native shingle array == array_distinct(composable shingles), n=1..4") {
    import spark.implicits._
    val df = docs.toDF("text")
      .select(col("text"), Shingles.tokens(col("text")).as("toks"))
    (1 to 4).foreach { n =>
      val both = df.select(
        array_distinct(Shingles.shingles(col("toks"), n)).as("ref"),
        TextExpressions.shingleArrayNative(col("toks"), n).as("native"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"n=$n mismatch")
      }
    }
  }

  test("null tokens yield an empty array, like the when/otherwise form") {
    import spark.implicits._
    val local = Seq((1, null.asInstanceOf[String]), (2, "one two three")).toDF("id", "text")
    // over a local relation the optimizer folds the projection
    // (interpreted eval); above a shuffle it runs in generated code
    Seq(local, local.repartition(2)).foreach { src =>
      val toks = Shingles.tokens(col("text"))
      val native = TextExpressions.shingleArrayNative(toks, 3)
      val ref = array_distinct(Shingles.shingles(toks, 3))
      val sizes = src.select(col("id"), size(native), size(ref))
        .orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      assert(sizes.toSeq === Seq((1, 0, 0), (2, 1, 1)))
      assert(src.select(explode(native)).count() === src.select(explode(ref)).count())
    }
  }
}
