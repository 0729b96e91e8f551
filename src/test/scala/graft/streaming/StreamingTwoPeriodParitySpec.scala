package graft.streaming

import graft.SparkTestSession
import graft.models.PressingIntensity
import graft.models.formations.Efpi
import graft.queries.FormationQueries
import graft.tracking.{Cols, SportecEvents, SportecSource, TrackingSettings}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The half-time regression test for every frame-keyed streaming op.
  *
  * A real provider feed carries the canonical PERIOD-RELATIVE
  * `timestamp` (micros since period start): at half-time it regresses
  * from ~45 min back to ~0. An op that watermarks on it classifies the
  * whole second period as late — dropped frames or partial emissions.
  * The ops therefore watermark on the absolute `abs_ts` axis bridged
  * by [[AbsoluteTime.withAbsTs]] from the provider wall clock.
  *
  * This spec loads a REAL two-period Sportec-layout match (wall-clock
  * `T` attributes, per-section rebased canonical timestamps — the
  * exact shape `SportecSource.load` emits), streams period 1 and then
  * period 2 through each op, and asserts period 2 survives with full
  * batch parity. Before the abs_ts fix every one of these tests fails
  * with an empty or partial period 2.
  */
class StreamingTwoPeriodParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- two-period Sportec fixture with REAL wall-clock T attrs ----

  private val fps = 25
  private def tIso(baseEpochSec: Long, frameOff: Long): String = {
    val micros = baseEpochSec * 1000000L + frameOff * (1000000L / fps)
    val sec = micros / 1000000L
    val frac = micros % 1000000L
    java.time.Instant.ofEpochSecond(sec, frac * 1000L).toString
  }

  // period 1 kicks off 12:00:00Z, period 2 at 13:03:20Z
  private val p1Start = 1704110400L
  private val p2Start = p1Start + 3800L

  private lazy val (trackingXml, metaXml): (String, String) = {
    def frameSet(section: String, team: String, person: String,
        base: Long, n0: Long, xs: Seq[(Double, Double)], ball: Boolean) = {
      val frames = xs.zipWithIndex.map { case ((x, y), i) =>
        val extra = if (ball) s""" Z="0.11" BallPossession="1" BallStatus="1"""" else ""
        s"""<Frame N="${n0 + i}" T="${tIso(base, i)}" X="$x" Y="$y"$extra D="0" S="0" A="0" M="1"/>"""
      }.mkString("\n")
      s"""<FrameSet GameSection="$section" MatchId="M2P" TeamId="$team" PersonId="$person">
         |$frames
         |</FrameSet>""".stripMargin
    }
    def drift(x0: Double, y0: Double): Seq[(Double, Double)] =
      (0 until 3).map(i => (x0 + i * 0.1, y0))
    def section(name: String, base: Long, n0: Long, flip: Double) =
      Seq(
        frameSet(name, "T-HOME", "P-H1", base, n0, drift(flip * -30.0, 5.0), ball = false),
        frameSet(name, "T-HOME", "P-H2", base, n0, drift(flip * -20.0, -5.0), ball = false),
        frameSet(name, "T-AWAY", "P-A1", base, n0, drift(flip * 25.0, 3.0), ball = false),
        frameSet(name, "T-AWAY", "P-A2", base, n0, drift(flip * 15.0, -3.0), ball = false),
        frameSet(name, "BALL", "BALL-1", base, n0, drift(flip * 0.5, 0.2), ball = true)
      ).mkString("\n")
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<PutDataRequest>
         |<Positions>
         |${section("firstHalf", p1Start, 10000L, 1.0)}
         |${section("secondHalf", p2Start, 100000L, -1.0)}
         |</Positions>
         |</PutDataRequest>""".stripMargin
    val meta =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<PutDataRequest>
        |<MatchInformation>
        |<General MatchId="M2P" HomeTeamId="T-HOME" GuestTeamId="T-AWAY" HomeTeamName="Home" GuestTeamName="Away" KickoffTime="2024-01-01T12:00:00Z"/>
        |<Environment PitchX="105.00" PitchY="68.00"/>
        |<Teams>
        |<Team TeamId="T-HOME" TeamName="Home" Role="home">
        |<Players>
        |<Player PersonId="P-H1" ShirtNumber="1" LastName="HOne" Starting="true" PlayingPosition="TW"/>
        |<Player PersonId="P-H2" ShirtNumber="2" LastName="HTwo" Starting="true" PlayingPosition="IVR"/>
        |</Players>
        |</Team>
        |<Team TeamId="T-AWAY" TeamName="Away" Role="guest">
        |<Players>
        |<Player PersonId="P-A1" ShirtNumber="3" LastName="AOne" Starting="true" PlayingPosition="TW"/>
        |<Player PersonId="P-A2" ShirtNumber="4" LastName="ATwo" Starting="true" PlayingPosition="STL"/>
        |</Players>
        |</Team>
        |</Teams>
        |</MatchInformation>
        |</PutDataRequest>""".stripMargin
    val t = "/tmp/graft_stream_twoperiod_tracking.xml"
    val m = "/tmp/graft_stream_twoperiod_meta.xml"
    Files.write(Paths.get(t), xml.getBytes("UTF-8"))
    Files.write(Paths.get(m), meta.getBytes("UTF-8"))
    (t, m)
  }

  /** Canonical tracking + bridged absolute axis, collected per period
    * (period 2's canonical timestamps restart at 0 — the regression
    * under test). */
  private lazy val bridged: org.apache.spark.sql.DataFrame = {
    val loaded = SportecSource.load(spark, trackingXml, metaXml)
    AbsoluteTime.withAbsTs(
      loaded, SportecEvents.sectionStarts(spark, trackingXml)).cache()
  }

  private val hourUs = 3600L * 1000000L

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("the bridge restores monotone event time over a regressing canonical clock") {
    val ts = bridged.select("period_id", "frame_id", "timestamp", "abs_ts")
      .distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // canonical clock rebases per period...
    assert(ts((1, 10000L))._1 === 0L && ts((2, 100000L))._1 === 0L)
    // ...so period 2 REGRESSES on the canonical axis but not on abs_ts
    assert(ts((2, 100000L))._1 < ts((1, 10002L))._1)
    assert(ts((2, 100000L))._2 > ts((1, 10002L))._2)
    assert(ts((1, 10000L))._2 === p1Start * 1000000L)
    assert(ts((2, 100000L))._2 === p2Start * 1000000L)
  }

  test("streaming graphs: period 2 frames emit complete after the half-time clock regression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingGraphs._
    val byPeriod = bridged.select(
        col(Cols.GameId), col(Cols.PeriodId), col(Cols.FrameId), col(Cols.Timestamp),
        col("abs_ts"), col(Cols.ObjectId).as("id"), col(Cols.TeamId),
        col(Cols.BallOwningTeamId), col(Cols.X), col(Cols.Y), col(Cols.Z))
      .as[FrameRow].collect().groupBy(_.period_id)

    val source = MemoryStream[FrameRow]
    val q = graphStream(source.toDS(), lateness = "10 seconds")
      .writeStream.format("memory").queryName("twop_graphs")
      .outputMode("append").start()
    try {
      source.addData(byPeriod(1).toSeq); q.processAllAvailable()
      source.addData(byPeriod(2).toSeq); q.processAllAvailable()
      val maxAbs = byPeriod(2).map(_.abs_ts).max
      (1 to 2).foreach { i =>
        source.addData(Seq(FrameRow("_wm", 9, 0L, 0L, maxAbs + i * hourUs,
          "x", "home", null, 0.0, 0.0, 0.0)))
        q.processAllAvailable()
      }
      val out = spark.table("twop_graphs").as[StreamGraph].collect()
        .filter(_.game_id == "M2P")
      // all six frames, every one complete — nothing dropped as late
      assert(out.map(g => (g.period_id, g.frame_id)).toSet ===
        Set((1, 10000L), (1, 10001L), (1, 10002L),
            (2, 100000L), (2, 100001L), (2, 100002L)))
      assert(out.forall(_.n === 5))
      // per-frame parity with the deterministic assembler on the batch rows
      out.foreach { g =>
        val expect = StreamingGraphs.assemble(g.game_id, g.period_id, g.frame_id,
          byPeriod(g.period_id).filter(_.frame_id == g.frame_id).toSeq,
          graft.graphs.NodeOrder(spark))
        assert(g === expect, s"graph mismatch at frame ${g.frame_id}")
      }
    } finally q.stop()
  }

  test("streaming pressing: period 2 pairs match the batch pair table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPressing._
    // constant synthetic velocities on top of the loaded positions
    val kin = bridged.select(
        col(Cols.GameId), col(Cols.PeriodId), col(Cols.FrameId), col(Cols.Timestamp),
        col("abs_ts"), col(Cols.ObjectId).as("id"), col(Cols.TeamId),
        col(Cols.BallOwningTeamId), col(Cols.X), col(Cols.Y), col(Cols.Z),
        lit(1.0).as("vx"), lit(0.5).as("vy"), lit(0.0).as("vz"))
      .as[KinRow].collect().groupBy(_.period_id)

    val source = MemoryStream[KinRow]
    val q = pairs(source.toDS(), lateness = "10 seconds").toDF()
      .writeStream.format("memory").queryName("twop_press")
      .outputMode("append").start()
    try {
      source.addData(kin(1).toSeq); q.processAllAvailable()
      source.addData(kin(2).toSeq); q.processAllAvailable()
      val maxAbs = kin(2).map(_.abs_ts).max
      (1 to 2).foreach { i =>
        source.addData(Seq(KinRow("_wm", 9, 0L, 0L, maxAbs + i * hourUs,
          "x", "home", null, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
        q.processAllAvailable()
      }
      val got = spark.table("twop_press").as[PressPair].collect()
        .filter(_.game_id == "M2P")
        .map(p => (p.period_id, p.frame_id, p.row_id, p.col_id) -> (p.tti, p.pti)).toMap

      val batchInput = (kin(1) ++ kin(2)).toSeq.map { r =>
        (r.game_id, r.period_id, r.frame_id, r.timestamp, r.id, r.team_id,
          r.ball_owning_team_id, false, r.x, r.y, r.z, r.vx, r.vy, r.vz,
          math.sqrt(r.vx * r.vx + r.vy * r.vy + r.vz * r.vz))
      }.toDF("game_id", "period_id", "frame_id", "timestamp", "id", "team_id",
        "ball_owning_team_id", "is_ball_carrier", "x", "y", "z", "vx", "vy", "vz", "v")
      val batch = PressingIntensity.pairs(batchInput, TrackingSettings(),
        PressingIntensity.Params(ballMethod = "include")).collect()
        .map(r => (r.getInt(r.fieldIndex("period_id")), r.getLong(r.fieldIndex("frame_id")),
          r.getString(r.fieldIndex("row_id")), r.getString(r.fieldIndex("col_id"))) ->
          (r.getDouble(r.fieldIndex("tti")), r.getDouble(r.fieldIndex("pti")))).toMap

      assert(got.keySet === batch.keySet)
      assert(got.keys.count(_._1 == 2) > 0) // period 2 survived half-time
      // the stream runs the batch kernel: tti bit for bit, pti within
      // the 4 ULP the `exp` intrinsic can move with JIT state
      got.foreach { case (k, (t, p)) =>
        assert(bits(t) === bits(batch(k)._1), s"tti mismatch at $k")
        assert(math.abs(bits(p) - bits(batch(k)._2)) <= 4L, s"pti mismatch at $k")
      }
    } finally q.stop()
  }

  test("streaming formations: two-period fold matches batch Efpi.fit across the boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingFormations._
    val cfg = Efpi.Config(
      every = "frame", formations = FormationQueries.SmallFormations,
      changeAfterPossession = false, changeThreshold = Some(0.1))

    val input = bridged
    val batchOut = Efpi.fit(spark, input.drop("abs_ts"), cfg).as[Efpi.OutRow].collect()
      .map(r => (r.period_id, r.segment_id, r.id) ->
        (r.team_id, Option(r.position), Option(r.formation), r.is_attacking)).toMap

    val byPeriod = input.select(
        col(Cols.GameId), col(Cols.PeriodId), col(Cols.FrameId), col(Cols.Timestamp),
        col("abs_ts"), col(Cols.ObjectId).as("id"), col(Cols.TeamId),
        col(Cols.PositionName), col(Cols.X), col(Cols.Y), col(Cols.BallOwningTeamId))
      .as[FrameRow].collect().groupBy(_.period_id)

    val source = MemoryStream[FrameRow]
    val q = frameFormations(source.toDS(), cfg, lateness = "10 seconds")
      .writeStream.format("memory").queryName("twop_efpi")
      .outputMode("append").start()
    try {
      // within each period-batch the rows arrive UNSORTED (reverse frame
      // order): the fold must still process (period, frame) ascending
      source.addData(byPeriod(1).sortBy(-_.frame_id).toSeq); q.processAllAvailable()
      source.addData(byPeriod(2).sortBy(-_.frame_id).toSeq); q.processAllAvailable()
      val maxAbs = byPeriod(2).map(_.abs_ts).max
      (1 to 2).foreach { i =>
        val wmTs = maxAbs + i * hourUs
        source.addData(Seq(FrameRow("_wm", 9, 0L, 0L, wmTs,
          "x", "home", null, 0.0, 0.0, null)))
        q.processAllAvailable()
      }
      val streamed = spark.table("twop_efpi").as[Efpi.OutRow].collect()
        .filter(_.game_id == "M2P")
        .map(r => (r.period_id, r.segment_id, r.id) ->
          (r.team_id, Option(r.position), Option(r.formation), r.is_attacking)).toMap
      assert(streamed.keys.count(_._1 == 2) > 0) // period 2 survived
      assert(streamed === batchOut)
    } finally q.stop()
  }

  test("windowed mean speed: period 2 windows emit on the absolute axis") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingKinematics._
    val byPeriod = bridged.select(
        col(Cols.GameId), col(Cols.ObjectId).as("id"), col(Cols.PeriodId),
        col(Cols.Timestamp), col("abs_ts"),
        col(Cols.TeamId), col(Cols.X), col(Cols.Y), col(Cols.Z))
      .as[TrackEvent].collect().groupBy(_.period_id)

    val source = MemoryStream[TrackEvent]
    val q = windowedMeanSpeed(velocities(source.toDS()))
      .writeStream.format("memory").queryName("twop_win")
      .outputMode("append").start()
    try {
      source.addData(byPeriod(1).toSeq); q.processAllAvailable()
      source.addData(byPeriod(2).toSeq); q.processAllAvailable()
      val maxAbs = byPeriod(2).map(_.abs_ts).max
      source.addData(Seq(TrackEvent("_wm", "x", 9, 0L, maxAbs + hourUs,
        "home", 0.0, 0.0, 0.0)))
      q.processAllAvailable()
      val wins = spark.table("twop_win")
        .filter(col("game_id") === "M2P")
        .select(unix_micros(col("window.start")).as("ws"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // both periods contribute closed windows; period 2's sit at its
      // wall-clock position, not folded back onto period 1's axis
      assert(wins.exists(_._1 >= p1Start * 1000000L))
      assert(wins.exists(_._1 >= p2Start * 1000000L))
      assert(wins.map(_._2).sum === 30L) // every one of the 30 rows counted
    } finally q.stop()
  }
}
