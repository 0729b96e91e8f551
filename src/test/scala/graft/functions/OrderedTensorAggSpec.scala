package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the ordered vector sum aggregate and the PI matrix
  * kernel against the generic expression shapes they replaced — on
  * randomized groups, not just the oracle fixtures. Every comparison is
  * exact (===): they claim identical output, not approximate. */
class OrderedTensorAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val rng = new scala.util.Random(421L)

  test("gridMatrices == generic rectangular reshape with labels") {
    import spark.implicits._
    // the same grid data, in the PI pairs schema, through the matrix kernel
    val rows = (0 until 10).flatMap { f =>
      val nr = 1 + rng.nextInt(4); val nc = 1 + rng.nextInt(4)
      for (i <- 0 until nr; j <- 0 until nc) yield
        (f.toLong, i, j, s"r$i", s"c$j",
          math.rint(rng.nextDouble() * 1e6) / 1e3,
          math.rint(rng.nextDouble() * 1e6) / 1e3)
    }
    val df = rng.shuffle(rows).toDF("f", "i", "j", "ri", "ci", "v1", "v2")
    val pairs = df.select(lit("g").as("game_id"), lit(1).as("period_id"), col("f").as("frame_id"),
      (col("f") * 40000L).as("timestamp"), col("i").as("row_idx"), col("j").as("col_idx"),
      col("ri").as("row_id"), col("ci").as("col_id"), col("v1").as("tti"), col("v2").as("pti"))
    val native = graft.models.PressingIntensity.matrices(pairs)
      .select(col("frame_id").as("f"), col("rows"), col("columns"),
        col("time_to_intercept").as("m1"), col("probability_to_intercept").as("m2"))
    val generic = df.groupBy(col("f"))
      .agg(array_sort(collect_list(struct(col("i"), col("j"), col("ri"), col("ci"),
        col("v1"), col("v2")))).as("cells"))
      .withColumn("nc", size(array_distinct(transform(col("cells"), _.getField("j")))))
      .withColumn("nr", (size(col("cells")) / col("nc")).cast("int"))
      .select(col("f"),
        transform(sequence(lit(0), col("nr") - 1), i =>
          element_at(col("cells"), (i * col("nc") + 1).cast("int")).getField("ri")).as("rows"),
        transform(sequence(lit(0), col("nc") - 1), j =>
          element_at(col("cells"), (j + 1).cast("int")).getField("ci")).as("columns"),
        transform(sequence(lit(0), col("nr") - 1), i =>
          transform(sequence(lit(0), col("nc") - 1), j =>
            element_at(col("cells"), (i * col("nc") + j + 1).cast("int")).getField("v1"))).as("m1"),
        transform(sequence(lit(0), col("nr") - 1), i =>
          transform(sequence(lit(0), col("nc") - 1), j =>
            element_at(col("cells"), (i * col("nc") + j + 1).cast("int")).getField("v2"))).as("m2"))
    val a = native.orderBy("f").collect().map(_.toString).toSeq
    val b = generic.orderBy("f").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("orderedVectorSum == aggregate(transform(array_sort(collect_list)), zeros, zip_with(+))") {
    import spark.implicits._
    val dim = 5
    val rows = (0 until 15).flatMap { g =>
      (0 until 1 + rng.nextInt(8)).map { i =>
        (g.toLong, i, Seq.fill(dim)(rng.nextDouble() * 1e3 - 500))
      }
    }
    val df = rng.shuffle(rows).toDF("g", "i", "v")
    val native = df.groupBy(col("g"))
      .agg(OrderedTensorAgg.orderedVectorSum(col("i"), col("v")).as("s"))
    val generic = df.groupBy(col("g"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("i"), col("v")))), _.getField("v")),
        typedLit(Seq.fill(dim)(0.0)),
        (acc, m) => zip_with(acc, m, (a, b) => a + b)).as("s"))
    // exact doubles: same summation order must give the same bits
    val a = native.orderBy("g").collect().map(r => r.getSeq[Double](1)).toSeq
    val b = generic.orderBy("g").collect().map(r => r.getSeq[Double](1)).toSeq
    assert(a === b)
  }

  test("the tensor aggregates are SQL functions via SparkSessionExtensions") {
    import spark.implicits._
    Seq((1L, 0, Seq(1.0, 2.0)), (1L, 1, Seq(3.0, 4.0)))
      .toDF("g", "i", "v").createOrReplaceTempView("ovs_sql")
    val s = spark.sql("SELECT ordered_vector_sum(i, v) AS s FROM ovs_sql GROUP BY g")
      .head.getSeq[Double](0)
    assert(s === Seq(4.0, 6.0))
  }

  test("orderedVectorSum: a null vector nulls the group (zip_with semantics)") {
    import spark.implicits._
    val df = Seq(
      (1L, 0, Option(Seq(1.0, 2.0))), (1L, 1, Option.empty[Seq[Double]]),
      (2L, 0, Option(Seq(3.0, 4.0))), (2L, 1, Option(Seq(1.0, 1.0))))
      .toDF("g", "i", "v")
    val out = df.groupBy(col("g"))
      .agg(OrderedTensorAgg.orderedVectorSum(col("i"), col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq) ===
      Some(Seq(4.0, 5.0)))
  }
}
