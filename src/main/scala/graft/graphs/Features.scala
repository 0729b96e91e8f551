package graft.graphs

import graft.tracking.Cols
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Node/edge feature expression registry (G2/G3/G7).
  *
  * Every reference feature function (`unravel/utils/features/builtin.py`)
  * is row-local (node) or pair-local (edge) arithmetic, so each becomes
  * a named `Column` — codegen'd, no UDF. Users extend by adding
  * `NodeFeature`/`EdgeFeature` instances; dims are tracked for labeling
  * like the reference's `_node_feature_dims`.
  *
  * These Columns are the one definition of every feature:
  * `GraphConverter.withNodeFeatures` and `pairs` evaluate them in a plan,
  * and the frame kernel behind `graphFrames` ([[GraphKernel]]) binds the
  * default lists over a node row (`x`, `y`, ..., `__ball_x/y/z`) and a
  * pair row (`i_*`, `j_*`) and evaluates them per node and per pair.
  *
  * Quirks preserved on purpose:
  *  - `velocity_components_2d_normed` normalizes the angle to [0,1]
  *    *before* taking sin/cos (`builtin.py:44-50`), unlike the
  *    angle-to-goal/ball features which sin/cos the raw angle;
  *  - `speed_difference_normed` clips to [0,1] *then* multiplies by
  *    sign, so negative speed differences collapse to 0 — replicated
  *    from `features/utils.py:169-189`;
  *  - speed/speed-diff normalizers pick the ball max by the *row*
  *    object.
  */
object Features {
  import Cols._

  /** nan→0 guard applied to every assembled feature
    * (np.nan_to_num in node_features_pl.py:87 / edge_features_pl.py:81). */
  private def nn(c: Column): Column = nanvl(c, lit(0.0))
  /** position/velocity nan→1e-10 (graph_converter.py:570-581). */
  private def nnPos(c: Column): Column = coalesce(nanvl(c, lit(1e-10)), lit(1e-10))
  private def clip01(c: Column): Column = least(greatest(c, lit(0.0)), lit(1.0))
  private def sincosNorm(c: Column): Column = (c + 1.0) / 2.0
  private def normAngle(c: Column): Column =
    ((c - lit(-math.Pi)) * 1.0) / lit(2 * math.Pi)

  final case class NodeFeature(name: String, dims: Int, exprs: NodeCtx => Seq[Column])
  final case class EdgeFeature(name: String, dims: Int, exprs: EdgeCtx => Seq[Column])

  /** Row-local context: the node's own columns + per-frame ball position
    * (provided via window aggregate — no join). */
  final case class NodeCtx(settings: GraphSettings) {
    val px: Column = nnPos(col(X)); val py: Column = nnPos(col(Y)); val pz: Column = nnPos(col(Z))
    val vxC: Column = nnPos(col(Vx)); val vyC: Column = nnPos(col(Vy)); val vzC: Column = nnPos(col(Vz))
    val ballX: Column = col("__ball_x"); val ballY: Column = col("__ball_y"); val ballZ: Column = col("__ball_z")
    val isBallRow: Column = col(TeamId) === Ball
  }

  final case class EdgeCtx(settings: GraphSettings) {
    // i = matrix row object, j = matrix column object
    def i(c: String): Column = col(s"i_$c")
    def j(c: String): Column = col(s"j_$c")
    val ix: Column = nnPos(i(X)); val iy: Column = nnPos(i(Y)); val iz: Column = nnPos(i(Z))
    val jx: Column = nnPos(j(X)); val jy: Column = nnPos(j(Y)); val jz: Column = nnPos(j(Z))
    val ivx: Column = nnPos(i(Vx)); val ivy: Column = nnPos(i(Vy))
    val jvx: Column = nnPos(j(Vx)); val jvy: Column = nnPos(j(Vy))
  }

  // ----------------------------------------------------------------- node
  def defaultNodeFeatures(s: GraphSettings): Seq[NodeFeature] = {
    val (gx, gy, _) = s.goalMouth
    Seq(
      NodeFeature("x_normed", 1, c => Seq(
        (c.px - s.pitch.xMin) / (s.pitch.xMax - s.pitch.xMin))),
      NodeFeature("y_normed", 1, c => Seq(
        (c.py - s.pitch.yMin) / (s.pitch.yMax - s.pitch.yMin))),
      NodeFeature("speeds_normed", 1, c => Seq(
        when(c.isBallRow, clip01(col(Speed) / s.maxBallSpeed))
          .otherwise(clip01(col(Speed) / s.maxPlayerSpeed)))),
      NodeFeature("velocity_components_2d_normed", 2, c => {
        val mag = sqrt(c.vxC * c.vxC + c.vyC * c.vyC + c.vzC * c.vzC)
        val m = when(mag === 0.0, 1.0).otherwise(mag)
        val a = normAngle(atan2(c.vyC / m, c.vxC / m))
        Seq(sincosNorm(sin(a)), sincosNorm(cos(a)))
      }),
      NodeFeature("distance_to_goal_normed", 1, c => Seq(
        sqrt((c.px - gx) * (c.px - gx) + (c.py - gy) * (c.py - gy) + c.pz * c.pz)
          / s.maxGoalDistance)),
      NodeFeature("distance_to_ball_normed", 1, c => Seq(
        sqrt((c.px - c.ballX) * (c.px - c.ballX) + (c.py - c.ballY) * (c.py - c.ballY)
          + (c.pz - c.ballZ) * (c.pz - c.ballZ)) / s.maxDistance)),
      NodeFeature("is_possession_team", 1, _ => Seq(
        when(col(TeamId) === col(BallOwningTeamId), 1.0).otherwise(s.defendingTeamNodeValue))),
      NodeFeature("is_gk", 1, _ => Seq(
        when(col(PositionName) === s.goalkeeperId, 1.0).otherwise(0.1))),
      NodeFeature("is_ball", 1, c => Seq(when(c.isBallRow, 1.0).otherwise(0.1))),
      NodeFeature("angle_to_goal_components_2d_normed", 2, c => {
        val a = atan2(lit(gy) - c.py, lit(gx) - c.px)
        Seq(sincosNorm(sin(a)), sincosNorm(cos(a)))
      }),
      NodeFeature("angle_to_ball_components_2d_normed", 2, c => {
        val a = atan2(c.ballY - c.py, c.ballX - c.px)
        Seq(sincosNorm(sin(a)), sincosNorm(cos(a)))
      }),
      NodeFeature("is_ball_carrier", 1, _ => Seq(
        when(col(IsBallCarrier), 1.0).otherwise(0.1))))
  }

  /** All node feature columns, nan→0, in registry order. */
  def nodeFeatureColumns(s: GraphSettings, feats: Seq[NodeFeature]): Seq[Column] = {
    val ctx = NodeCtx(s)
    feats.flatMap(f => f.exprs(ctx).map(nn))
  }

  // ----------------------------------------------------------------- edge
  def defaultEdgeFeatures(s: GraphSettings): Seq[EdgeFeature] = Seq(
    EdgeFeature("distances_between_players_normed", 1, c => Seq(
      sqrt((c.ix - c.jx) * (c.ix - c.jx) + (c.iy - c.jy) * (c.iy - c.jy)
        + (c.iz - c.jz) * (c.iz - c.jz)) / s.maxDistance)),
    EdgeFeature("speed_difference_normed", 1, c => {
      val diff = nanvl(c.j(Speed) - c.i(Speed), lit(0.0))
      val maxSpeed = when(c.i(TeamId) === Cols.Ball, s.maxBallSpeed).otherwise(s.maxPlayerSpeed)
      Seq(clip01(diff / maxSpeed) * signum(diff))
    }),
    EdgeFeature("angle_between_players_normed", 2, c => {
      val a = nanvl(atan2(c.iy - c.jy, c.ix - c.jx), lit(0.0))
      // reference returns (cos, sin) in that order (builtin.py:155-158)
      Seq(sincosNorm(nanvl(cos(a), lit(0.0))), sincosNorm(nanvl(sin(a), lit(0.0))))
    }),
    EdgeFeature("velocity_difference_normed", 2, c => {
      // v1 = pos_i - pos_j (2d), v2 = vel_j - vel_i (2d); angle via
      // arccos(clip(dot(unit(v1), unit(v2)), -1, 1)) (features/utils.py:119-132)
      val v1x = c.ix - c.jx; val v1y = c.iy - c.jy
      val v2x = c.jvx - c.ivx; val v2y = c.jvy - c.ivy
      val n1 = sqrt(v1x * v1x + v1y * v1y)
      val n2 = sqrt(v2x * v2x + v2y * v2y)
      val u1x = when(n1 === 0.0, 0.0).otherwise(v1x / n1)
      val u1y = when(n1 === 0.0, 0.0).otherwise(v1y / n1)
      val u2x = when(n2 === 0.0, 0.0).otherwise(v2x / n2)
      val u2y = when(n2 === 0.0, 0.0).otherwise(v2y / n2)
      val a = acos(least(greatest(u1x * u2x + u1y * u2y, lit(-1.0)), lit(1.0)))
      Seq(sincosNorm(nanvl(cos(a), lit(0.0))), sincosNorm(nanvl(sin(a), lit(0.0))))
    }))

  def edgeFeatureColumns(s: GraphSettings, feats: Seq[EdgeFeature]): Seq[Column] = {
    val ctx = EdgeCtx(s)
    feats.flatMap(f => f.exprs(ctx).map(nn))
  }
}
