package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingGraphsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import StreamingGraphs._

  private val base = 1700000000L * 1000000L
  private val sec = 1000000L

  private def row(frame: Long, id: String, team: String, x: Double): FrameRow = {
    val ts = base + frame * sec
    FrameRow("g1", 1, frame, ts, ts, id, team, "home", x, 0.0, 0.0)
  }

  test("emits a frame graph once the watermark passes it; batch-parity order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[FrameRow]
    val q = graphStream(source.toDS(), lateness = "5 seconds")
      .writeStream.format("memory").queryName("graphs_out")
      .outputMode("append").start()
    try {
      // frame 1 arrives split across two batches; frame 999 only exists
      // to drive the watermark far past frame 1's timeout
      source.addData(Seq(row(1, "p1", "away", 1.0), row(1, "ball", "ball", 3.0)))
      q.processAllAvailable()
      source.addData(Seq(row(1, "p2", "home", 2.0)))
      q.processAllAvailable()
      assert(spark.table("graphs_out").isEmpty) // watermark hasn't passed frame 1
      source.addData(Seq(row(999, "p1", "away", 0.0)))
      q.processAllAvailable()
      source.addData(Seq(row(1000, "p1", "away", 0.0)))
      q.processAllAvailable()
      val out = spark.table("graphs_out").as[StreamGraph].collect()
      assert(out.map(_.frame_id).toSet === Set(1L))
      val g = out.head
      // node order: owning (home p2), defender (away p1), ball
      assert(g.object_ids === Seq("p2", "p1", "ball"))
      assert(g.n === 3)
      assert(g.x.map(_.head) === Seq(2.0, 1.0, 3.0))
      // split_by_team + ball connect: p2-p1 disconnected, ball row/col all 1
      assert(g.a === Seq(Seq(1, 0, 1), Seq(0, 1, 1), Seq(1, 1, 1)))
    } finally q.stop()
  }

  test("graph stream writes to a checkpointed parquet sink and reads back") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[FrameRow]
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val q = graphStream(source.toDS(), lateness = "5 seconds")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      source.addData(Seq(row(1, "p1", "away", 1.0), row(1, "ball", "ball", 2.0)))
      q.processAllAvailable()
      source.addData(Seq(row(999, "p1", "away", 0.0)))
      q.processAllAvailable()
      source.addData(Seq(row(1000, "p1", "away", 0.0)))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.filter($"frame_id" === 1L).count() === 1)
      assert(back.columns.toSet === Set("game_id", "period_id", "frame_id",
        "n", "object_ids", "x", "a"))
    } finally q.stop()
  }

  test("assemble matches the batch GraphConverter node index on a full frame") {
    import spark.implicits._
    val rows = Seq(
      row(7, "b", "home", 1.0), row(7, "a", "home", 2.0),
      row(7, "z", "away", 3.0), row(7, "ball", "ball", 4.0),
      // a null id sharing its order value with "a" and "b" sorts first
      row(7, null, "home", 5.0),
      // UTF-8 byte order: U+FFFD (EF BF BD) before U+1F600 (F0 9F 98 80),
      // the reverse of their UTF-16 order
      row(7, "p\uD83D\uDE00", "away", 6.0), row(7, "p\uFFFD", "away", 7.0),
      // a null team in a frame with a null owning team has a null order
      // value, which sorts first
      row(7, "n", null, 8.0).copy(ball_owning_team_id = null))
    val g = StreamingGraphs.assemble("g1", 1, 7, rows, graft.graphs.NodeOrder(spark))
    val batchOrder = graft.graphs.GraphConverter
      .withNodeIndex(rows.toDF()
        .withColumnRenamed("timestamp", graft.tracking.Cols.Timestamp))
      .orderBy("node_idx").select("id").as[String].collect().toSeq
    assert(g.object_ids === batchOrder)
  }
}
