package graft.streaming

import graft.SparkTestSession
import graft.models.PressingIntensity
import graft.tracking.TrackingSettings
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingPressingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import StreamingPressing._

  private val base = 1700000000L * 1000000L
  private val sec = 1000000L

  private def kin(frame: Long, id: String, team: String,
      x: Double, y: Double, vx: Double, vy: Double, owning: String = "home"): KinRow = {
    val ts = base + frame * sec
    KinRow("g1", 1, frame, ts, ts, id, team, owning,
      x, y, 0.0, vx, vy, 0.0)
  }

  private val frame1 = Seq(
    kin(1, "h1", "home", 10.0, 5.0, 1.0, 0.0),
    kin(1, "h2", "home", 20.0, -5.0, 0.0, 2.0),
    kin(1, "a1", "away", 15.0, 0.0, -1.0, 1.0),
    kin(1, "a2", "away", 30.0, 10.0, 2.0, -1.0),
    kin(1, "ball", "ball", 11.0, 5.0, 3.0, 0.0))

  private type Key = (Long, String, String)

  /** The stream's pairs by (frame, row, col), after two watermark
    * driver frames close every frame of `rows`. */
  private def streamed(rows: Seq[KinRow], name: String): Map[Key, (Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[KinRow]
    val q = pairs(source.toDS(), lateness = "5 seconds").toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      source.addData(rows)
      q.processAllAvailable()
      source.addData(Seq(kin(100, "h1", "home", 0, 0, 0, 0))) // watermark driver
      q.processAllAvailable()
      source.addData(Seq(kin(101, "h1", "home", 0, 0, 0, 0)))
      q.processAllAvailable()
      val frames = rows.map(_.frame_id).toSet
      spark.table(name).as[PressPair].collect()
        .filter(p => frames(p.frame_id))
        .map(p => (p.frame_id, p.row_id, p.col_id) -> (p.tti, p.pti)).toMap
    } finally q.stop()
  }

  /** The batch pair table (teams/include) on the same rows. */
  private def batch(rows: Seq[KinRow]): Map[Key, (Double, Double)] = {
    import spark.implicits._
    val batchInput = rows.map { r =>
      (r.game_id, r.period_id, r.frame_id, r.timestamp, r.id, r.team_id,
        r.ball_owning_team_id, false, r.x, r.y, r.z, r.vx, r.vy, r.vz,
        math.sqrt(r.vx * r.vx + r.vy * r.vy + r.vz * r.vz))
    }.toDF("game_id", "period_id", "frame_id", "timestamp", "id", "team_id",
      "ball_owning_team_id", "is_ball_carrier", "x", "y", "z", "vx", "vy", "vz", "v")
    PressingIntensity.pairs(batchInput, TrackingSettings(),
      PressingIntensity.Params(ballMethod = "include")).collect()
      .map(r => (r.getLong(r.fieldIndex("frame_id")), r.getString(r.fieldIndex("row_id")),
        r.getString(r.fieldIndex("col_id"))) ->
        (r.getDouble(r.fieldIndex("tti")), r.getDouble(r.fieldIndex("pti")))).toMap
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Same pairs; `tti` bit for bit, `pti` within the 4 ULP the `exp`
    * intrinsic can move with JIT state. */
  private def assertSamePairs(got: Map[Key, (Double, Double)], want: Map[Key, (Double, Double)]): Unit = {
    assert(got.keySet === want.keySet)
    got.foreach { case (k, (t, p)) =>
      assert(bits(t) === bits(want(k)._1), s"tti mismatch at $k")
      assert(math.abs(bits(p) - bits(want(k)._2)) <= 4L, s"pti mismatch at $k")
    }
  }

  test("streaming pairs replay-match the batch pair table (teams/include)") {
    val got = streamed(frame1, "press_out")
    assert(got.keySet.size === 6) // 2 defenders x (2 owning + ball)
    assertSamePairs(got, batch(frame1))
  }

  test("degenerate frames: the stream emits the batch pairs") {
    val rows = Seq(
      // coordinates whose (x + vx) - x is not vx
      kin(1, "h1", "home", 10.1, 5.0, 0.3, 0.0),
      kin(1, "h2", "home", 20.2, -5.1, 0.7, 0.1),
      kin(1, "a1", "away", 15.3, 0.3, -1.1, 1.3),
      kin(1, "a2", "away", 30.7, 10.9, 2.3, -0.9),
      kin(1, "ball", "ball", 10.1, 5.3, 0.3, 0.0),
      // an owning team of "": every player defends against the ball
      kin(2, "h1", "home", 10.0, 5.0, 1.0, 0.0, owning = ""),
      kin(2, "h2", "home", 20.0, -5.0, 0.0, 2.0, owning = ""),
      kin(2, "a1", "away", 15.0, 0.0, -1.0, 1.0, owning = ""),
      kin(2, "a2", "away", 30.0, 10.0, 2.0, -1.0, owning = ""),
      kin(2, "ball", "ball", 11.0, 5.0, 3.0, 0.0, owning = ""),
      // rows that disagree on the owning team: each row's own decides
      kin(3, "h1", "home", 10.0, 5.0, 1.0, 0.0, owning = "home"),
      kin(3, "h2", "home", 20.0, -5.0, 0.0, 2.0, owning = "away"),
      kin(3, "a1", "away", 15.0, 0.0, -1.0, 1.0, owning = "home"),
      kin(3, "a2", "away", 30.0, 10.0, 2.0, -1.0, owning = "away"),
      kin(3, "ball", "ball", 11.0, 5.0, 3.0, 0.0, owning = "home"),
      // no defenders
      kin(4, "h1", "home", 10.0, 5.0, 1.0, 0.0),
      kin(4, "h2", "home", 20.0, -5.0, 0.0, 2.0),
      kin(4, "ball", "ball", 11.0, 5.0, 3.0, 0.0),
      // a null owning team
      kin(5, "h1", "home", 10.0, 5.0, 1.0, 0.0, owning = null),
      kin(5, "a1", "away", 15.0, 0.0, -1.0, 1.0, owning = null),
      kin(5, "ball", "ball", 11.0, 5.0, 3.0, 0.0, owning = null))
    val want = batch(rows)
    // the table reaches each case: 2x3, 4 players x ball, {h2, a1} x
    // {h1, a2, ball}, and nothing for frames 4 and 5
    assert((1L to 5L).map(f => want.keys.count(_._1 == f)) === Seq(6, 4, 6, 0, 0))
    assertSamePairs(streamed(rows, "press_degenerate"), want)
  }
}
