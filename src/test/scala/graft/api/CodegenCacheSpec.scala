package graft.api

import graft.SparkTestSession
import graft.tracking.Goalkeepers
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A repeated match journey reuses its generated code. One pass of
  * load → keepers → PI, graph tensors and EFPI compiled about 130
  * classes in a fresh JVM while the tracking chain planned Window
  * operators (about 60 since it runs as group kernels), more than
  * Spark's default codegen cache holds (100): with that bound the
  * second pass recompiled 128 of them. The cache bound set in
  * `SparkEntry.configure` must hold the whole working set, so the
  * second pass compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val players = (1 to 6).map(i => s"h$i") ++ (1 to 6).map(i => s"a$i")

  /** Two periods of smooth trajectories; the ball follows one player per
    * 20-frame spell, so possession changes hands. */
  private def writeCsv(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toFile
    val header = Seq("game_id", "period_id", "frame_id", "timestamp") ++
      players.flatMap(id => Seq(s"${id}_x", s"${id}_y")) ++ Seq("ball_x", "ball_y", "ball_z")
    val rows = for (period <- 1 to 2; f <- 0 until 60) yield {
      val t = f / 25.0
      val pos = players.indices.map { k =>
        val side = if (k < 6) -1.0 else 1.0
        (side * (10.0 + 5.0 * (k % 6)) + 3.0 * math.sin(0.3 * t + k),
          -20.0 + 7.0 * (k % 6) + 2.0 * math.cos(0.2 * t + k))
      }
      val (bx, by) = pos((f / 20 * 5) % players.size)
      (Seq("g", period, (period - 1) * 60 + f, f * 40000L) ++
        pos.flatMap { case (x, y) => Seq(f"$x%.4f", f"$y%.4f") } ++
        Seq(f"${bx + 0.5}%.4f", f"${by + 0.3}%.4f", "0.1")).mkString(",")
    }
    val f = new java.io.File(dir, "g.csv")
    val w = new java.io.PrintWriter(f)
    try { w.println(header.mkString(",")); rows.foreach(w.println) } finally w.close()
    f.getAbsolutePath
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def journey(csv: String): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_out").toString
    Goalkeepers.infer(SoccerPipeline.load(spark, csv, players))
      .write.mode("overwrite").parquet(s"$out/prepared")
    val prepared = spark.read.parquet(s"$out/prepared")
    noop(SoccerPipeline.pressingIntensity(prepared))
    noop(SoccerPipeline.graphs(prepared))
    noop(SoccerPipeline.formations(spark, prepared))
  }

  test("a repeated match journey compiles no new classes") {
    val csv = writeCsv()
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiled
    journey(csv)
    val c1 = compiled
    journey(csv)
    val again = compiled - c1
    assert(again === 0,
      s"the second pass compiled $again classes (the first compiled ${c1 - c0})")
  }
}
