package graft.tracking

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KinematicsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  /** 1 game, 1 period, one player + ball, 5 frames 40 ms apart, player
    * moving 1 m per frame in x (=> vx 25 m/s, capped v at 12). */
  private lazy val trk = {
    import spark.implicits._
    val rows = for {
      f <- 0 until 5
      (id, team) <- Seq(("p1", "home"), (Ball, Ball))
    } yield ("g", 1, f.toLong, f.toLong * 40000L, id, team,
      if (id == Ball) 0.5 * f else 1.0 * f, 0.0, 0.0, null.asInstanceOf[String])
    rows.toDF(GameId, PeriodId, FrameId, Timestamp, ObjectId, TeamId, X, Y, Z, BallOwningTeamId)
  }

  test("velocity from finite differences, first frame filled 0") {
    val out = Kinematics(trk, TrackingSettings(), None, None)
      .filter(col(ObjectId) === "p1").orderBy(FrameId)
      .select(Vx, Speed, Ax, Acceleration).collect()
    assert(out.head == Row(0.0, 0.0, 0.0, 0.0))
    // dx=1, dt=0.04 => vx=25; capped v=12 (player); ax=(25-0)/0.04=625 => a capped 6
    assert(out(1) == Row(25.0, 12.0, 625.0, 6.0))
    assert(out(2).getDouble(0) == 25.0 && out(2).getDouble(3) == 0.0)
  }

  test("ball capped at ball limits") {
    val out = Kinematics(trk, TrackingSettings(), None, None)
      .filter(col(ObjectId) === Ball).orderBy(FrameId)
      .select(Vx, Speed).collect()
    assert(out(1) == Row(12.5, 12.5)) // under 28 m/s ball cap: uncapped
  }

  test("savgol smoothing applied per object partition") {
    val out = Kinematics(trk, TrackingSettings(), Some(SavGol(3, 1)), None)
      .filter(col(ObjectId) === "p1").orderBy(FrameId).select(Vx).collect().map(_.getDouble(0))
    // raw vx = [0,25,25,25,25]; w3p1: head edge = polyfit of first 3, interior = mean3
    val want = SavGol(3, 1).smoothArray(Array(0.0, 25.0, 25.0, 25.0, 25.0))
    out.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("possession inference picks nearest player within threshold") {
    val out = Possession.inferBallCarrier(trk, TrackingSettings())
      .select(col(FrameId), col(ObjectId), col(BallOwningTeamId), col(IsBallCarrier))
      .collect()
    assert(out.nonEmpty)
    // only one player => owner is home, the player carries in every frame
    assert(out.forall(_.getString(2) == "home"))
    assert(out.filter(_.getString(1) == "p1").forall(_.getBoolean(3)))
    assert(out.filter(_.getString(1) == Ball).forall(!_.getBoolean(3)))
  }

  test("orientation flip negates coordinates for away possession") {
    import spark.implicits._
    val df = Seq(("g", 1, 0L, "p1", 3.0, -2.0, "away"), ("g", 1, 0L, "p2", 3.0, -2.0, "home"))
      .toDF(GameId, PeriodId, FrameId, ObjectId, X, Y, BallOwningTeamId)
    val flipped = Orientation.toBallOwning(df, "home")
      .orderBy(ObjectId).select(X, Y).collect()
    assert(flipped(0) == Row(-3.0, 2.0)) // p1: away owns -> flipped
    assert(flipped(1) == Row(3.0, -2.0)) // p2 row: home owns -> unchanged
  }
}
