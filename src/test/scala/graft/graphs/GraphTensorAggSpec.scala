package graft.graphs

import graft.SparkTestSession
import graft.tracking._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused graphFrames path (one frame kernel,
  * [[graft.graphs.GraphKernel]]) must be bit-identical to the staged
  * relational assembly it replaced ([[GraphAssemblyReference]]: padding,
  * node index, node features, pair table, generic tensor rebuild) — on
  * the real tracking pipeline, on every adjacency/connect combination,
  * and on the null/NaN corner rows the staged Catalyst expressions
  * handle implicitly. */
class GraphTensorAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private val sf = "/root/testdata/sf0.001"

  private def realInput: DataFrame = {
    val trk = SyntheticTracking.df(spark, sf)
    val kin = Kinematics(trk, TrackingSettings(), None, None)
    Possession.inferBallCarrier(kin, TrackingSettings())
      .drop(Ax, Ay, Az, Acceleration, BallState, Timestamp)
  }

  private def assertSame(df: DataFrame, settings: GraphSettings): Unit = {
    val fused = GraphConverter.graphFrames(df, settings)
      .collect().map(_.toString).sorted.toSeq
    val base = GraphAssemblyReference.graphFrames(df, settings).collect().map(_.toString).sorted.toSeq
    assert(fused.nonEmpty, "empty comparison proves nothing")
    assert(fused === base)
  }

  test("fused == staged on the real q_graph_frames pipeline (pad, split_by_team/ball)") {
    assertSame(realInput, GraphSettings(pad = true))
  }

  test("fused == staged with labels/graph ids (optCols passthrough)") {
    val labeled = Labels.addDummyLabels(
      Labels.addGraphIds(realInput, Seq(GameId, FrameId)), Seq(GameId, FrameId))
    assertSame(labeled, GraphSettings(pad = true))
  }

  test("fused == staged: dense_ap + ball_carrier connect, padded") {
    assertSame(realInput, GraphSettings(pad = true,
      adjacencyMatrixType = GraphSettings.DenseAp,
      adjacencyMatrixConnectType = GraphSettings.ConnectBallCarrier))
  }

  test("fused == staged: dense_dp + no connect, unpadded") {
    assertSame(realInput, GraphSettings(pad = false,
      adjacencyMatrixType = GraphSettings.DenseDp,
      adjacencyMatrixConnectType = GraphSettings.ConnectNone))
  }

  test("fused == staged: dense, unpadded") {
    assertSame(realInput, GraphSettings(pad = false,
      adjacencyMatrixType = GraphSettings.Dense))
  }

  /** Corner rows the synthetic pipeline never produces: NaN positions
    * (nnPos → 1e-10), null speed (clip01 swallows to 0.0 in the node
    * feature, nulls the vdiff edge feature), null position_name, a
    * ball-less frame (synthetic ball pad row), an over-full team (frame
    * dropped by completeness), an all-null-owning frame (dropped by
    * completeness when padded; null sort ranks when not), and a frame
    * with only 2 teams (dropped by removeIncompleteFrames when
    * pad = false). `ball_owning_team_id` is frame-constant — within a
    * frame that VARIES in owning, the staged path itself is
    * nondeterministic (its padding's `first(owning)` picks an arbitrary
    * group), so equality there is not a property either path has. */
  private def cornerInput: DataFrame = {
    import spark.implicits._
    val rows = Seq.tabulate(14) { i => // frame 1: full 11+11, no ball
      val t = if (i % 2 == 0) "home" else "away"
      (s"p$i", t, 1.0 + i, 2.0 - i, "1")
    } ++ Seq.tabulate(8)(i => (s"q$i", if (i % 2 == 0) "home" else "away",
      -1.0 - i, 0.5 * i, "1")) ++
      Seq( // frame 2: ball present, NaN/null corners, needs padding
        ("ball", "ball", Double.NaN, 3.0, "2"),
        ("h1", "home", 1.0, Double.NaN, "2"),
        ("h2", "home", 2.0, 1.0, "2"),
        ("a1", "away", -3.0, -1.0, "2")) ++
      Seq.tabulate(25)(i => (s"z$i", if (i < 12) "home" else "away", // frame 3: overfull home
        i * 1.0, -i * 1.0, "3")) ++
      Seq(("ball", "ball", 0.0, 0.0, "3"),
        // frame 4: every row's owning is null
        ("ball", "ball", 1.0, 1.0, "4"),
        ("h9", "home", 4.0, 4.0, "4"),
        ("a9", "away", -4.0, -4.0, "4"))
    rows.toDF(ObjectId, TeamId, X, Y, "fid")
      .withColumn(GameId, lit("g")).withColumn(PeriodId, lit(1))
      .withColumn(FrameId, col("fid").cast("long")).drop("fid")
      .withColumn(Z, lit(0.0))
      .withColumn(Vx, when(col(ObjectId) === "h1", Double.NaN).otherwise(lit(0.3)))
      .withColumn(Vy, lit(-0.2)).withColumn(Vz, lit(0.0))
      .withColumn(Speed, when(col(ObjectId) === "h2", lit(null).cast("double"))
        .otherwise(lit(0.36)))
      .withColumn(PositionName,
        when(col(ObjectId) === "a1", lit("GK")).otherwise(lit(null).cast("string")))
      .withColumn(BallOwningTeamId,
        when(col(FrameId) === 4, lit(null).cast("string")).otherwise(lit("home")))
      .withColumn(IsBallCarrier,
        when(col(ObjectId) === "h1", lit(true))
          .when(col(ObjectId) === "q1", lit(null).cast("boolean"))
          .otherwise(lit(false)))
  }

  test("fused == staged on null/NaN corner frames, padded") {
    assertSame(cornerInput, GraphSettings(pad = true))
  }

  test("fused == staged on null/NaN corner frames, unpadded + ball_carrier") {
    assertSame(cornerInput, GraphSettings(pad = false,
      adjacencyMatrixConnectType = GraphSettings.ConnectBallCarrier))
  }

  test("ball-less frame with mixed owning: synthetic-ball owning is a defined reduction") {
    // r18 hardening (r17 verdict #4): the fused agg used to take
    // `nodes(0).owning` for the synthetic ball row of a ball-less
    // padded frame — buffer order after a partial-aggregate merge is
    // shuffle-fetch-order-dependent. Now it is the minimum non-null
    // owning (UTF8String binary order), so the output is identical
    // under ANY input row order. The frame below is emitted (11 owning
    // "home" rows + 11 defenders whose owning is a DIFFERENT string,
    // so the reduction has two candidates) — the staged path's
    // `first(owning)` is nondeterministic here, so the property is
    // pinned on the fused path alone.
    import spark.implicits._
    val rows = Seq.tabulate(11)(i => (s"h$i", "home", "home")) ++
      Seq.tabulate(11)(i => (s"a$i", "away", "bbb"))
    val base = rows.toDF(ObjectId, TeamId, BallOwningTeamId)
      .withColumn(GameId, lit("g")).withColumn(PeriodId, lit(1))
      .withColumn(FrameId, lit(7L))
      .withColumn(X, lit(1.0)).withColumn(Y, lit(2.0)).withColumn(Z, lit(0.0))
      .withColumn(Vx, lit(0.1)).withColumn(Vy, lit(0.0)).withColumn(Vz, lit(0.0))
      .withColumn(Speed, lit(0.1))
      .withColumn(PositionName, lit(null).cast("string"))
      .withColumn(IsBallCarrier, lit(false))
    val forward = GraphConverter.graphFrames(base, GraphSettings(pad = true))
      .collect().map(_.toString).sorted.toSeq
    val reversed = GraphConverter.graphFrames(
      base.orderBy(col(ObjectId).desc), GraphSettings(pad = true))
      .collect().map(_.toString).sorted.toSeq
    assert(forward.nonEmpty, "mixed-owning ball-less frame must survive padding")
    assert(forward === reversed)
  }

  test("delaunay settings route to the frame kernel") {
    val settings = GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.Delaunay)
    val df = GraphConverter.graphFrames(realInput, settings)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("GraphKernel"), plan)
    assertSame(realInput, settings)
  }
}
