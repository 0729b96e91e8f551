package graft.queries

import graft.core.{GraftQuery, QueryModule}
import graft.graphs.{GraphConverter, GraphSettings}
import graft.tracking._
import org.apache.spark.sql.functions._

/** Graph-construction operators (SURVEY.md §2.9) oracled in long format;
  * the nested tensor form is a rows-only query + ScalaTest. All float
  * features are rounded to 6 decimals (atan2/sin/cos/acos are libm-
  * dependent). */
object GraphQueries extends QueryModule {
  import Cols._

  /** pidat (kinematics+possession) filtered to complete frames, with the
    * reference node ordering index. */
  private val gIdxCte: String =
    """g3 AS (
      |  SELECT * FROM (
      |    SELECT *, count(DISTINCT team_id) OVER (PARTITION BY game_id, period_id, frame_id) AS nteams
      |    FROM pidat)
      |  WHERE nteams = 3
      |),
      |gidx AS (
      |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
      |    ORDER BY (CAST(team_id = 'ball' AS INT)*2
      |              - CAST((ball_owning_team_id = team_id AND team_id <> 'ball') AS INT)) ASC,
      |             id ASC) - 1 AS node_idx
      |  FROM g3
      |)""".stripMargin

  private val pidatCte: String =
    """pidat AS (
      |  SELECT vel.game_id, vel.period_id, vel.frame_id, vel.id, vel.team_id,
      |         vel.position_name, vel.x, vel.y, vel.z, vel.vx, vel.vy, vel.vz, vel.v,
      |         q.ball_owning_team_id, q.is_ball_carrier
      |  FROM vel
      |  JOIN (SELECT game_id, period_id, frame_id, id, owning AS ball_owning_team_id,
      |               coalesce(id = carrier, false) AS is_ball_carrier
      |        FROM poss WHERE owning IS NOT NULL) q
      |  USING (game_id, period_id, frame_id, id)
      |)""".stripMargin

  private def withAll(extra: String)(select: String): String =
    s"""WITH ${SyntheticTracking.cte},
       |${SyntheticTracking.velCte},
       |${SyntheticTracking.possessionCte},
       |$pidatCte,
       |$extra
       |$select""".stripMargin

  /** SQL mirror of the graph kernel's padding: per-(frame, team) deficit
    * rows with dtype defaults, then the 11/11/1 completeness filter and
    * the node ordering — ends in a CTE named `gidx` so the feature CTEs
    * below apply unchanged to the padded set. */
  private val paddedGidxCte: String =
    """gcnt AS (
      |  SELECT game_id, period_id, frame_id, team_id,
      |    max(ball_owning_team_id) AS ball_owning_team_id, count(*) AS cnt
      |  FROM pidat GROUP BY game_id, period_id, frame_id, team_id
      |),
      |gpadrows AS (
      |  SELECT game_id, period_id, frame_id, '' AS id, team_id,
      |    CASE WHEN team_id = 'ball' THEN 'ball' ELSE '' END AS position_name,
      |    0.0 AS x, 0.0 AS y, 0.0 AS z, 0.0 AS vx, 0.0 AS vy, 0.0 AS vz, 0.0 AS v,
      |    ball_owning_team_id, false AS is_ball_carrier,
      |    unnest(generate_series(1, (CASE WHEN team_id = 'ball' THEN 1 ELSE 11 END) - cnt)) AS k
      |  FROM gcnt WHERE (CASE WHEN team_id = 'ball' THEN 1 ELSE 11 END) > cnt
      |),
      |gall AS (
      |  SELECT game_id, period_id, frame_id, id, team_id, position_name,
      |    x, y, z, vx, vy, vz, v, ball_owning_team_id, is_ball_carrier
      |  FROM pidat
      |  UNION ALL
      |  SELECT game_id, period_id, frame_id, id, team_id, position_name,
      |    x, y, z, vx, vy, vz, v, ball_owning_team_id, is_ball_carrier
      |  FROM gpadrows
      |),
      |gcomp AS (
      |  SELECT * FROM (
      |    SELECT *,
      |      sum(CASE WHEN team_id = 'ball' THEN 1 ELSE 0 END) OVER wf AS nb,
      |      sum(CASE WHEN team_id = ball_owning_team_id THEN 1 ELSE 0 END) OVER wf AS no,
      |      sum(CASE WHEN team_id <> 'ball' AND team_id <> ball_owning_team_id THEN 1 ELSE 0 END) OVER wf AS nd
      |    FROM gall WINDOW wf AS (PARTITION BY game_id, period_id, frame_id))
      |  WHERE nb = 1 AND no = 11 AND nd = 11
      |),
      |gidx AS (
      |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
      |    ORDER BY (CAST(team_id = 'ball' AS INT)*2
      |              - CAST((ball_owning_team_id = team_id AND team_id <> 'ball') AS INT)) ASC,
      |             id ASC) - 1 AS node_idx
      |  FROM gcomp
      |)""".stripMargin

  /** Node-feature CTE chain over a `gidx` source (shared by the padded
    * and unpadded oracles). */
  private val nodeFeatureCtes: String =
    """gball AS (
      |  SELECT *,
      |    coalesce(max(CASE WHEN team_id = 'ball' THEN x END) OVER wf, 0.0) AS bx,
      |    coalesce(max(CASE WHEN team_id = 'ball' THEN y END) OVER wf, 0.0) AS gby,
      |    coalesce(max(CASE WHEN team_id = 'ball' THEN z END) OVER wf, 0.0) AS bz
      |  FROM gidx
      |  WINDOW wf AS (PARTITION BY game_id, period_id, frame_id)
      |),
      |gmag AS (
      |  SELECT *, sqrt(vx*vx + vy*vy + vz*vz) AS vmag FROM gball
      |),
      |gm AS (
      |  SELECT *, CASE WHEN vmag = 0.0 THEN 1.0 ELSE vmag END AS vm,
      |    ((atan2(vy/(CASE WHEN vmag = 0.0 THEN 1.0 ELSE vmag END),
      |            vx/(CASE WHEN vmag = 0.0 THEN 1.0 ELSE vmag END)) - (-pi())) * 1.0) / (2*pi()) AS va
      |  FROM gmag
      |)""".stripMargin

  private val nodeFeatureSelect: String =
    """SELECT game_id, period_id, frame_id, id, node_idx,
      |  round((x - (-52.5)) / (52.5 - (-52.5)), 6) AS x_n,
      |  round((y - (-34.0)) / (34.0 - (-34.0)), 6) AS y_n,
      |  round(CASE WHEN team_id = 'ball' THEN least(greatest(v/28.0, 0.0), 1.0)
      |        ELSE least(greatest(v/12.0, 0.0), 1.0) END, 6) AS v_n,
      |  round((sin(va) + 1.0)/2.0, 6) AS vc_sin,
      |  round((cos(va) + 1.0)/2.0, 6) AS vc_cos,
      |  round(sqrt((x - 52.5)*(x - 52.5) + (y - 0.0)*(y - 0.0) + z*z)
      |        / sqrt(105.0*105.0 + 68.0*68.0), 6) AS dgoal,
      |  round(sqrt((x - bx)*(x - bx) + (y - gby)*(y - gby) + (z - bz)*(z - bz))
      |        / sqrt(105.0*105.0 + 68.0*68.0), 6) AS dball,
      |  CAST(CASE WHEN team_id = ball_owning_team_id THEN 1.0 ELSE 0.1 END AS DOUBLE) AS poss,
      |  CAST(CASE WHEN position_name = 'GK' THEN 1.0 ELSE 0.1 END AS DOUBLE) AS gk,
      |  CAST(CASE WHEN team_id = 'ball' THEN 1.0 ELSE 0.1 END AS DOUBLE) AS ball,
      |  round((sin(atan2(0.0 - y, 52.5 - x)) + 1.0)/2.0, 6) AS ag_sin,
      |  round((cos(atan2(0.0 - y, 52.5 - x)) + 1.0)/2.0, 6) AS ag_cos,
      |  round((sin(atan2(gby - y, bx - x)) + 1.0)/2.0, 6) AS ab_sin,
      |  round((cos(atan2(gby - y, bx - x)) + 1.0)/2.0, 6) AS ab_cos,
      |  CAST(CASE WHEN is_ball_carrier THEN 1.0 ELSE 0.1 END AS DOUBLE) AS carrier
      |FROM gm""".stripMargin

  private val featureCaseArms: String =
    Seq("x_n", "y_n", "v_n", "vc_sin", "vc_cos", "dgoal", "dball", "poss",
      "gk", "ball", "ag_sin", "ag_cos", "ab_sin", "ab_cos").zipWithIndex
      .map { case (n, i) => s"WHEN ${i + 1} THEN $n" }.mkString(" ") + " ELSE carrier"

  /** Edge-feature CTE chain over a `gidx` source (split_by_team + ball
    * connect adjacency, A=1 pairs only). */
  private val edgeFeatureCtes: String =
    """epair AS (
      |  SELECT i.game_id, i.period_id, i.frame_id, i.id AS i_id, j.id AS j_id,
      |    i.node_idx AS i_idx, j.node_idx AS j_idx,
      |    i.x AS ix, i.y AS iy, i.z AS iz, j.x AS jx, j.y AS jy, j.z AS jz,
      |    i.vx AS ivx, i.vy AS ivy, j.vx AS jvx, j.vy AS jvy,
      |    i.v AS iv, j.v AS jv, i.team_id AS i_team,
      |    CAST((i.team_id = j.team_id) OR i.team_id = 'ball' OR j.team_id = 'ball' AS INT) AS a
      |  FROM gidx i JOIN gidx j USING (game_id, period_id, frame_id)
      |),
      |eun AS (
      |  SELECT *,
      |    sqrt((ix-jx)*(ix-jx) + (iy-jy)*(iy-jy)) AS n1,
      |    sqrt((jvx-ivx)*(jvx-ivx) + (jvy-ivy)*(jvy-ivy)) AS n2
      |  FROM epair WHERE a = 1
      |),
      |eu AS (
      |  SELECT *,
      |    CASE WHEN n1 = 0.0 THEN 0.0 ELSE (ix-jx)/n1 END AS u1x,
      |    CASE WHEN n1 = 0.0 THEN 0.0 ELSE (iy-jy)/n1 END AS u1y,
      |    CASE WHEN n2 = 0.0 THEN 0.0 ELSE (jvx-ivx)/n2 END AS u2x,
      |    CASE WHEN n2 = 0.0 THEN 0.0 ELSE (jvy-ivy)/n2 END AS u2y
      |  FROM eun
      |),
      |ea AS (
      |  SELECT *, acos(least(greatest(u1x*u2x + u1y*u2y, -1.0), 1.0)) AS vangle,
      |    atan2(iy - jy, ix - jx) AS pangle,
      |    jv - iv AS sdiff,
      |    CASE WHEN i_team = 'ball' THEN 28.0 ELSE 12.0 END AS smax
      |  FROM eu
      |)""".stripMargin

  private val edgeFeatureSelect: String =
    """SELECT game_id, period_id, frame_id, i_id, j_id, i_idx AS i, j_idx AS j,
      |  round(sqrt((ix-jx)*(ix-jx) + (iy-jy)*(iy-jy) + (iz-jz)*(iz-jz))
      |        / sqrt(105.0*105.0 + 68.0*68.0), 6) AS dist,
      |  round(least(greatest(sdiff/smax, 0.0), 1.0) * sign(sdiff) + 0.0, 6) AS vdiff,
      |  round((cos(pangle) + 1.0)/2.0, 6) AS pa_cos,
      |  round((sin(pangle) + 1.0)/2.0, 6) AS pa_sin,
      |  round((cos(vangle) + 1.0)/2.0, 6) AS va_cos,
      |  round((sin(vangle) + 1.0)/2.0, 6) AS va_sin
      |FROM ea""".stripMargin

  private def pipeline(s: org.apache.spark.sql.SparkSession, d: String) = {
    val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
    val kin = Kinematics(trk, TrackingSettings(), None, None)
    // graph features never read acceleration: drop its 4 columns
    val dat = Possession.inferBallCarrier(kin, TrackingSettings())
      .drop(Ax, Ay, Az, Acceleration)
    GraphConverter.removeIncompleteFrames(dat)
  }

  /** The `q_gnn_forward` graph: 2-feature nodes (normalized x, y),
    * 1-feature edges (pairwise distance), built straight from the
    * synthetic tracking table. Shared by the forward-pass oracle and
    * the head-trainer oracle. Returns (keys, nodes, edges). */
  private def gnnGraph(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq(GameId, FrameId)
    val base = SyntheticTracking.df(s, d, Seq(GameId, FrameId))
      .select(col(GameId), col(FrameId), col(ObjectId).as("id"),
        (col(X) / 105.0 + 0.5).as("fx"), (col(Y) / 68.0 + 0.5).as("fy"))
      .withColumn("idx", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("id"))) - 1)
    val nodes = base.select(col(GameId), col(FrameId), col("idx"),
      array(col("fx"), col("fy")).as("x"))
    val l = base.select(col(GameId), col(FrameId), col("idx").as("i"),
      col("fx").as("ix"), col("fy").as("iy"))
    val r = base.select(col(GameId), col(FrameId), col("idx").as("j"),
      col("fx").as("jx"), col("fy").as("jy"))
    val edges = l.join(r, keys).filter(col("i") =!= col("j"))
      .select(col(GameId), col(FrameId), col("i"), col("j"),
        array(sqrt((col("ix") - col("jx")) * (col("ix") - col("jx")) +
          (col("iy") - col("jy")) * (col("iy") - col("jy")))).as("e"))
    (keys, nodes, edges)
  }

  private val gnnConv = graft.graphs.GnnInference.CgLayer(
    wf = Seq(Seq(0.3, -0.2), Seq(0.1, 0.4), Seq(-0.3, 0.2), Seq(0.2, 0.1), Seq(0.5, -0.4)),
    bf = Seq(0.05, -0.05),
    ws = Seq(Seq(0.2, 0.3), Seq(-0.1, 0.2), Seq(0.4, -0.2), Seq(0.1, 0.1), Seq(-0.2, 0.3)),
    bs = Seq(0.0, 0.1))

  /** CTE chain replaying [[gnnGraph]] + one [[gnnConv]] CGConv layer +
    * mean pool, ending in `gpool(game_id, frame_id, p1, p2)`. */
  private val gnnPoolCte: String =
    """gb AS (
      |  SELECT game_id, frame_id, id, x/105.0 + 0.5 AS fx, y/68.0 + 0.5 AS fy,
      |    row_number() OVER (PARTITION BY game_id, frame_id ORDER BY id) - 1 AS idx
      |  FROM tracking
      |),
      |ge AS (
      |  SELECT l.game_id, l.frame_id, l.idx AS i,
      |    l.fx AS ix, l.fy AS iy, r.fx AS jx, r.fy AS jy,
      |    sqrt((l.fx-r.fx)*(l.fx-r.fx) + (l.fy-r.fy)*(l.fy-r.fy)) AS ed
      |  FROM gb l JOIN gb r ON l.game_id = r.game_id AND l.frame_id = r.frame_id
      |    AND l.idx <> r.idx
      |),
      |gmsg AS (
      |  SELECT game_id, frame_id, i,
      |    (1.0/(1.0+exp(-(0.05 + 0.3*ix + 0.1*iy + (-0.3)*jx + 0.2*jy + 0.5*ed))))
      |      * (greatest(0.0 + 0.2*ix + (-0.1)*iy + 0.4*jx + 0.1*jy + (-0.2)*ed, 0.0)
      |         + ln(1.0 + exp(-abs(0.0 + 0.2*ix + (-0.1)*iy + 0.4*jx + 0.1*jy + (-0.2)*ed)))) AS m1,
      |    (1.0/(1.0+exp(-(-0.05 + (-0.2)*ix + 0.4*iy + 0.2*jx + 0.1*jy + (-0.4)*ed))))
      |      * (greatest(0.1 + 0.3*ix + 0.2*iy + (-0.2)*jx + 0.1*jy + 0.3*ed, 0.0)
      |         + ln(1.0 + exp(-abs(0.1 + 0.3*ix + 0.2*iy + (-0.2)*jx + 0.1*jy + 0.3*ed)))) AS m2
      |  FROM ge
      |),
      |gsum AS (
      |  SELECT game_id, frame_id, i, sum(m1) AS sm1, sum(m2) AS sm2
      |  FROM gmsg GROUP BY game_id, frame_id, i
      |),
      |gx AS (
      |  SELECT b.game_id, b.frame_id, b.idx,
      |    b.fx + coalesce(s.sm1, 0.0) AS x1, b.fy + coalesce(s.sm2, 0.0) AS x2
      |  FROM gb b LEFT JOIN gsum s
      |    ON s.game_id = b.game_id AND s.frame_id = b.frame_id AND s.i = b.idx
      |),
      |gpool AS (
      |  SELECT game_id, frame_id, sum(x1)/count(*) AS p1, sum(x2)/count(*) AS p2
      |  FROM gx GROUP BY game_id, frame_id
      |)""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    // ----- CGConv forward pass (GnnInference): one conv layer + sigmoid
    // head over per-frame graphs built straight from the synthetic
    // tracking table (F=2 normalized coordinates, E=1 distance). The
    // oracle expands the SAME affine/sigmoid/softplus/mean-pool math
    // as scalar SQL; scores round to 6 decimals (libm exp/log differ
    // in the last ulp across engines, the established q_math_funcs
    // treatment). One layer keeps ulp amplification ~1e-15. -----
    GraftQuery(
      "q_gnn_forward",
      (s, d) => {
        import graft.graphs.GnnInference
        val (keys, nodes, edges) = gnnGraph(s, d)
        val head = GnnInference.DenseLayer(Seq(Seq(0.8), Seq(-0.6)), Seq(0.1), "sigmoid")
        GnnInference.forward(nodes, edges, keys, Seq(gnnConv), Seq(head))
          .select(col(GameId), col(FrameId),
            (round(element_at(col("score"), 1), 6) + 0.0).as("score"))
      },
      Some(withAll(gnnPoolCte)(
        """SELECT game_id, frame_id,
          |  round(1.0/(1.0+exp(-(0.1 + 0.8*p1 + (-0.6)*p2))), 6) + 0.0 AS score
          |FROM gpool""".stripMargin))),

    // ----- GNN head training: closed-form least-squares twin -----
    // The oracle half of the train-the-head journey (MLlib logistic
    // regression is the production trainer — MlBridge.gnnHeadFit;
    // L-BFGS is outside bit-exact replay, so the linear-probability
    // twin carries the hash): pooled embeddings from the SAME conv
    // stack as q_gnn_forward, rounded to 6 decimals, DECIMAL-exact
    // 3×3 normal equations solved by Cramer's rule — the oracle
    // replays feature building, the Gram sums, the determinant
    // algebra, and the per-graph scores, so any divergence anywhere
    // in the fit flips the hash. Label: frame_id % 3 = 0 (a
    // deterministic, replayable stand-in for a real outcome column).
    GraftQuery(
      "q_gnn_head",
      (s, d) => {
        import graft.graphs.GnnInference
        import graft.llm.MlBridge
        val (keys, nodes, edges) = gnnGraph(s, d)
        val pooled = GnnInference.pooledEmbeddings(nodes, edges, keys, Seq(gnnConv))
        MlBridge.gnnHeadLsq2(pooled, keys, col(FrameId) % 3 === 0)
      },
      Some(withAll(gnnPoolCte +
        """,
          |hft AS (
          |  SELECT game_id, frame_id,
          |    CAST(round(CAST(p1 AS DECIMAL(20,9)), 6) AS DOUBLE) AS p1,
          |    CAST(round(CAST(p2 AS DECIMAL(20,9)), 6) AS DOUBLE) AS p2,
          |    CAST(frame_id % 3 = 0 AS DOUBLE) AS y
          |  FROM gpool
          |),
          |hg AS (
          |  SELECT CAST(count(*) AS DOUBLE) AS n,
          |    CAST(sum(CAST(p1 AS DECIMAL(20,9))) AS DOUBLE) AS s1,
          |    CAST(sum(CAST(p2 AS DECIMAL(20,9))) AS DOUBLE) AS s2,
          |    CAST(sum(CAST(p1*p1 AS DECIMAL(20,9))) AS DOUBLE) AS s11,
          |    CAST(sum(CAST(p1*p2 AS DECIMAL(20,9))) AS DOUBLE) AS s12,
          |    CAST(sum(CAST(p2*p2 AS DECIMAL(20,9))) AS DOUBLE) AS s22,
          |    CAST(sum(CAST(y AS DECIMAL(20,9))) AS DOUBLE) AS sy,
          |    CAST(sum(CAST(p1*y AS DECIMAL(20,9))) AS DOUBLE) AS s1y,
          |    CAST(sum(CAST(p2*y AS DECIMAL(20,9))) AS DOUBLE) AS s2y
          |  FROM hft
          |),
          |hb AS (
          |  SELECT
          |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))
          |      / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)) AS b0,
          |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))
          |      / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)) AS b1,
          |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))
          |      / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)) AS b2
          |  FROM hg
          |)""".stripMargin)(
        """SELECT f.game_id, f.frame_id,
          |  CAST(round(CAST(b.b0 + b.b1*f.p1 + b.b2*f.p2 AS DECIMAL(20,9)), 6) AS DOUBLE) + 0.0 AS score,
          |  (b.b0 + b.b1*f.p1 + b.b2*f.p2) > 0.5 AS keep
          |FROM hft f CROSS JOIN hb b""".stripMargin))),

    // ----- G1: adjacency (split_by_team + ball connect) as pair list -----
    GraftQuery(
      "q_graph_adjacency",
      (s, d) => GraphConverter.pairs(pipeline(s, d), GraphSettings(pad = false))
        .select(col(GameId), col(PeriodId), col(FrameId),
          col(s"i_$ObjectId").as("i_id"), col(s"j_$ObjectId").as("j_id"),
          col("i_node_idx"), col("j_node_idx"), col("a")),
      Some(withAll(gIdxCte)(
        """SELECT i.game_id, i.period_id, i.frame_id,
          |  i.id AS i_id, j.id AS j_id, i.node_idx AS i_node_idx, j.node_idx AS j_node_idx,
          |  CAST((i.team_id = j.team_id) OR i.team_id = 'ball' OR j.team_id = 'ball' AS INT) AS a
          |FROM gidx i JOIN gidx j USING (game_id, period_id, frame_id)""".stripMargin))),

    // ----- G1 variant arms: dense_ap matrix + ball_carrier connect -----
    // pidat's is_ball_carrier marks the carrier; attacking players pair
    // densely, the ball connects only to/from the carrier.
    GraftQuery(
      "q_graph_adjacency_ap",
      (s, d) => GraphConverter.pairs(pipeline(s, d), GraphSettings(pad = false,
        adjacencyMatrixType = graft.graphs.GraphSettings.DenseAp,
        adjacencyMatrixConnectType = graft.graphs.GraphSettings.ConnectBallCarrier))
        .select(col(GameId), col(PeriodId), col(FrameId),
          col(s"i_$ObjectId").as("i_id"), col(s"j_$ObjectId").as("j_id"),
          col("i_node_idx"), col("j_node_idx"), col("a")),
      Some(withAll(gIdxCte)(
        """SELECT i.game_id, i.period_id, i.frame_id,
          |  i.id AS i_id, j.id AS j_id, i.node_idx AS i_node_idx, j.node_idx AS j_node_idx,
          |  CAST(((i.team_id = i.ball_owning_team_id) AND (j.team_id = j.ball_owning_team_id))
          |    OR (coalesce(i.is_ball_carrier, false) AND j.team_id = 'ball')
          |    OR (i.team_id = 'ball' AND coalesce(j.is_ball_carrier, false)) AS INT) AS a
          |FROM gidx i JOIN gidx j USING (game_id, period_id, frame_id)""".stripMargin))),

    // ----- G1 variant arms: dense_dp matrix, no ball connect -----
    GraftQuery(
      "q_graph_adjacency_dp",
      (s, d) => GraphConverter.pairs(pipeline(s, d), GraphSettings(pad = false,
        adjacencyMatrixType = graft.graphs.GraphSettings.DenseDp,
        adjacencyMatrixConnectType = graft.graphs.GraphSettings.ConnectNone))
        .select(col(GameId), col(PeriodId), col(FrameId),
          col(s"i_$ObjectId").as("i_id"), col(s"j_$ObjectId").as("j_id"),
          col("i_node_idx"), col("j_node_idx"), col("a")),
      Some(withAll(gIdxCte)(
        """SELECT i.game_id, i.period_id, i.frame_id,
          |  i.id AS i_id, j.id AS j_id, i.node_idx AS i_node_idx, j.node_idx AS j_node_idx,
          |  CAST((i.team_id <> 'ball' AND i.team_id <> i.ball_owning_team_id)
          |   AND (j.team_id <> 'ball' AND j.team_id <> j.ball_owning_team_id) AS INT) AS a
          |FROM gidx i JOIN gidx j USING (game_id, period_id, frame_id)""".stripMargin))),

    // ----- G2: the 12 node feature functions (15 columns) -----
    GraftQuery(
      "q_graph_nodes",
      (s, d) => {
        val nf = GraphConverter.withNodeFeatures(pipeline(s, d), GraphSettings(pad = false))
        val names = Seq("x_n", "y_n", "v_n", "vc_sin", "vc_cos", "dgoal", "dball",
          "poss", "gk", "ball", "ag_sin", "ag_cos", "ab_sin", "ab_cos", "carrier")
        nf.select(Seq(col(GameId), col(PeriodId), col(FrameId),
          col(ObjectId).as("id"), col("node_idx")) ++
          names.zipWithIndex.map { case (n, i) =>
            round(element_at(col("x_features"), i + 1), 6).as(n)
          }: _*)
      },
      Some(withAll(gIdxCte + "," + nodeFeatureCtes)(nodeFeatureSelect))),

    // ----- G3: the 4 edge feature functions (6 columns) on A=1 pairs -----
    GraftQuery(
      "q_graph_edges",
      (s, d) => {
        val p = GraphConverter.pairs(pipeline(s, d), GraphSettings(pad = false))
          .filter(col("a") === 1)
        val names = Seq("dist", "vdiff", "pa_cos", "pa_sin", "va_cos", "va_sin")
        p.select(Seq(col(GameId), col(PeriodId), col(FrameId),
          col(s"i_$ObjectId").as("i_id"), col(s"j_$ObjectId").as("j_id")) ++
          names.zipWithIndex.map { case (n, i) =>
            val v = element_at(col("e_features"), i + 1)
            // +0.0 normalizes the -0.0 that clip*sign produces for
            // negative speed diffs (both engines do the same)
            val vv = if (n == "vdiff") v + lit(0.0) else v
            round(vv, 6).as(n)
          }: _*)
      },
      Some(withAll(gIdxCte + "," + edgeFeatureCtes)(
        s"""SELECT game_id, period_id, frame_id, i_id, j_id,
           |  dist, vdiff, pa_cos, pa_sin, va_cos, va_sin
           |FROM ($edgeFeatureSelect)""".stripMargin))),

    // ----- G8 + full nested assembly, oracle-checked via explode -----
    // Runs the real padded nested pipeline (the graph frame kernel:
    // padding, node order, node features), then explodes the nested `x`
    // tensor back to (node_idx, feature_idx, value) rows. Wrong padding
    // rows, node order, or matrix layout ⇒ wrong (node_idx, value)
    // pairs ⇒ hash mismatch. The oracle regenerates the padding
    // relationally in SQL (11/11/1 targets, dtype-default rows,
    // completeness filter) and recomputes all 15 features on the
    // padded set.
    GraftQuery(
      "q_graph_frames",
      (s, d) => {
        val g = GraphConverter.graphFrames(paddedInput(s, d), GraphSettings(pad = true))
        g.select(Seq(col(GameId), col(PeriodId), col(FrameId)) :+
            posexplode(arrays_zip(col("x"), col("object_ids"))).as(Seq("node_idx", "node")): _*)
          .select(Seq(col(GameId), col(PeriodId), col(FrameId),
            col("node_idx").cast("long").as("node_idx"),
            col("node.object_ids").as("id")) :+
            posexplode(col("node.x")).as(Seq("feature_idx", "value")): _*)
          .select(col(GameId), col(PeriodId), col(FrameId), col("node_idx"), col("id"),
            col("feature_idx").cast("long").as("feature_idx"),
            round(col("value"), 6).as("value"))
      },
      Some(withAll(paddedGidxCte + "," + nodeFeatureCtes)(
        s"""SELECT game_id, period_id, frame_id, node_idx, id, k - 1 AS feature_idx,
           |  CASE k $featureCaseArms END AS value
           |FROM ($nodeFeatureSelect)
           |CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS k)""".stripMargin)),
      headline = true),

    // ----- O5: frame down-sampling -----
    GraftQuery(
      "q_graph_sample",
      (s, d) => GraphConverter.sample(SyntheticTracking.df(s, d), 0.5)
        .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id")),
      Some(s"""WITH ${SyntheticTracking.cte}
              |SELECT game_id, period_id, frame_id, id
              |FROM tracking WHERE frame_id % 2 = 0""".stripMargin)),

    // ----- G6: global/graph features appended to the ball node row -----
    GraftQuery(
      "q_graph_globals",
      (s, d) => {
        val base = pipeline(s, d)
        GraphConverter.validateGlobalConstancy(base, Seq(Timestamp))
        val nf = GraphConverter.withNodeFeatures(base, GraphSettings(pad = false))
        GraphConverter.withGlobalFeatures(nf, Seq(Timestamp), "ball")
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col("node_idx"),
            element_at(col("x_features"), 16).as("g_ts"))
      },
      Some(withAll(gIdxCte)(
        """SELECT game_id, period_id, frame_id, id, node_idx,
          |  CASE WHEN team_id = 'ball' THEN CAST(frame_id * 40000 AS DOUBLE)
          |       ELSE 0.0 END AS g_ts
          |FROM gidx""".stripMargin))),

    // ----- M12: leakage-aware split via seeded hash-bucketing -----
    // Zero-shuffle assignment: bucket = seeded hash of the graph_id mod
    // 10000, range thresholds define the splits. The oracle recomputes
    // the identical polynomial hash in SQL.
    GraftQuery(
      "q_split_assign",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
          .withColumn(GraphId, concat_ws("-", col(GameId), col(FrameId)))
        graft.graphs.GraphDataset
          .withSplit(trk, 0.6, 0.3, 0.1, byGraphId = true, seed = 7L, exactHash = true)
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(GraphId), col("split"))
      },
      Some(withAll(
        s"""gsplit AS (
           |  SELECT *, game_id || '-' || CAST(frame_id AS VARCHAR) AS graph_id
           |  FROM tracking
           |),
           |gbucket AS (
           |  SELECT *, ${graft.llm.TextHash.polyHashSql("graph_id || '|7'")} % 10000 AS bucket
           |  FROM gsplit
           |)""".stripMargin)(
        """SELECT game_id, period_id, frame_id, id, graph_id,
          |  CASE WHEN bucket < 6000 THEN 'train'
          |       WHEN bucket < 9000 THEN 'test'
          |       ELSE 'validation' END AS split
          |FROM gbucket""".stripMargin))),

    // ----- G1 delaunay adjacency (legacy-reference semantics; the
    // active reference path raises NotImplementedError, so this is a
    // superset). DuckDB cannot triangulate, so the oracle reads the
    // committed golden parquet (goldens/delaunay_sf0.01.parquet,
    // written by graft.tools.GoldenGen) — an independent regression
    // anchor whose correctness is pinned by DelaunaySpec's defining
    // empty-circumcircle property and hand-computed small cases; the
    // edge list itself is exact ids/keys (no floats), so the golden is
    // bit-stable across runs. -----
    GraftQuery(
      "q_graph_adjacency_delaunay",
      (s, d) => GraphConverter.pairs(pipeline(s, d),
        GraphSettings(adjacencyMatrixType = GraphSettings.Delaunay, pad = false))
        .filter(col("a") === 1)
        .select(col(GameId), col(PeriodId), col(FrameId),
          col(s"i_$ObjectId").as("i_id"), col(s"j_$ObjectId").as("j_id")),
      Some("SELECT * FROM read_parquet('/root/repo/goldens/delaunay_sf0.01.parquet')")),

    // ----- M12 exact-count split (reference permutation semantics) -----
    // The oracle replays the same permutation: bucket-major hash order
    // (h % 1024, h, key) over distinct graph_ids, floor-sized train and
    // test, remainder validation.
    GraftQuery(
      "q_split_exact",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
          .withColumn(GraphId, concat_ws("-", col(GameId), col(FrameId)))
        graft.graphs.GraphDataset
          .withSplitExact(trk, 0.6, 0.3, 0.1, byGraphId = true, seed = 7L, exactHash = true)
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(GraphId), col("split"))
      },
      Some(withAll(
        s"""gsplit AS (
           |  SELECT *, game_id || '-' || CAST(frame_id AS VARCHAR) AS graph_id
           |  FROM tracking
           |),
           |keyed AS (
           |  SELECT graph_id,
           |         ${graft.llm.TextHash.polyHashSql("graph_id || '|7'")} AS h
           |  FROM (SELECT DISTINCT graph_id FROM gsplit)
           |),
           |ranked AS (
           |  SELECT graph_id,
           |         row_number() OVER (ORDER BY h % 1024, h, graph_id) - 1 AS rk,
           |         count(*) OVER () AS n
           |  FROM keyed
           |),
           |asg AS (
           |  SELECT graph_id,
           |    CASE WHEN rk < CAST(floor(0.6 * n) AS BIGINT) THEN 'train'
           |         WHEN rk < CAST(floor(0.6 * n) AS BIGINT)
           |                   + CAST(floor(0.3 * n) AS BIGINT) THEN 'test'
           |         ELSE 'validation' END AS split
           |  FROM ranked
           |)""".stripMargin)(
        """SELECT g.game_id, g.period_id, g.frame_id, g.id, g.graph_id, a.split
          |FROM gsplit g JOIN asg a USING (graph_id)""".stripMargin))),

    // ----- O3: deterministic shuffle, oracle-replayed -----
    // The permutation is the md5 order of the salted row key (bit-
    // identical across engines, unlike rand(seed)); the emitted
    // shuffle_key pins the full permutation in the hash compare
    // without materializing a global row index.
    GraftQuery(
      "q_graph_shuffle",
      (s, d) => graft.graphs.GraphDataset.shuffledByHash(
        SyntheticTracking.df(s, d),
        Seq(GameId, PeriodId, FrameId, ObjectId))
        .select(col(GameId), col(PeriodId), col(FrameId),
          col(ObjectId).as("id"), col("shuffle_key")),
      Some(s"""WITH ${SyntheticTracking.cte}
              |SELECT game_id, period_id, frame_id, id,
              |  md5(concat_ws('|', 'graft', game_id, period_id, frame_id, id))
              |    AS shuffle_key
              |FROM tracking""".stripMargin)),

    // ----- O4: exact-count label balancing, oracle-replayed -----
    // Same keep-count arithmetic as the reference's sampler, realized
    // as per-class md5-rank ≤ target so DuckDB can replay the exact
    // kept set (Bernoulli sampleBy is engine-private). label = 1 on
    // every 4th frame → pos < neg, so all positives survive and
    // exactly pos negatives are kept.
    GraftQuery(
      "q_split_balanced",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
          .withColumn("label", (col(FrameId) % 4 === 0).cast("int"))
        graft.graphs.GraphDataset.balancedExact(
          trk, "label", Seq(GameId, PeriodId, FrameId, ObjectId))
          .select(col(GameId), col(PeriodId), col(FrameId),
            col(ObjectId).as("id"), col("label"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
              |lab AS (
              |  SELECT *, CASE WHEN frame_id % 4 = 0 THEN 1 ELSE 0 END AS label
              |  FROM tracking
              |),
              |cnt AS (
              |  SELECT
              |    CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
              |    CAST(sum(CASE WHEN label <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS neg
              |  FROM lab
              |),
              |tgt AS (
              |  SELECT
              |    CASE WHEN pos > 1.0 * neg
              |         THEN CAST(floor(1.0 * neg) AS BIGINT) ELSE pos END AS pos_keep,
              |    CASE WHEN pos > 1.0 * neg
              |         THEN neg ELSE CAST(floor(pos / 1.0) AS BIGINT) END AS neg_keep
              |  FROM cnt
              |),
              |rk AS (
              |  SELECT *, row_number() OVER (PARTITION BY label
              |    ORDER BY md5(concat_ws('|', 'graft', game_id, period_id, frame_id, id)),
              |      game_id, period_id, frame_id, id) AS rk
              |  FROM lab
              |)
              |SELECT game_id, period_id, frame_id, id, label
              |FROM rk, tgt
              |WHERE rk <= CASE WHEN label = 1 THEN pos_keep ELSE neg_keep END""".stripMargin)),

    // ----- G8 adjacency + edge tensors, oracle-checked via explode -----
    // Explodes the nested `a` matrix to cells and maps each e[k] back to
    // its (i, j) through the row-major nonzero rank — verifying the COO
    // ordering contract of the edge tensor against SQL.
    GraftQuery(
      "q_graph_frames_edges",
      (s, d) => {
        // both the adjacency-cell branch and the e-tensor branch explode
        // the nested output — persist it or the whole assembly runs twice
        val g = GraphConverter.graphFrames(paddedInput(s, d), GraphSettings(pad = true))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cells = g
          .select(Seq(col(GameId), col(PeriodId), col(FrameId)) :+
            posexplode(col("a")).as(Seq("i", "arow")): _*)
          .select(Seq(col(GameId), col(PeriodId), col(FrameId), col("i")) :+
            posexplode(col("arow")).as(Seq("j", "aval")): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(GameId), col(PeriodId), col(FrameId))
          .orderBy(col("i"), col("j"))
        val edgeIdx = cells.filter(col("aval") === 1)
          .withColumn("k", row_number().over(w) - 1)
        val eFlat = g
          .select(Seq(col(GameId), col(PeriodId), col(FrameId)) :+
            posexplode(col("e")).as(Seq("k", "efeat")): _*)
          .select(Seq(col(GameId), col(PeriodId), col(FrameId), col("k")) :+
            posexplode(col("efeat")).as(Seq("feature_idx", "value")): _*)
        edgeIdx.join(eFlat, Seq(GameId, PeriodId, FrameId, "k"))
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("i").cast("long").as("i"), col("j").cast("long").as("j"),
            col("feature_idx").cast("long").as("feature_idx"),
            round(when(col("feature_idx") === 1, col("value") + 0.0)
              .otherwise(col("value")), 6).as("value"))
      },
      Some(withAll(paddedGidxCte + "," + edgeFeatureCtes)(
        s"""SELECT game_id, period_id, frame_id, i, j, k - 1 AS feature_idx,
           |  CASE k WHEN 1 THEN dist WHEN 2 THEN vdiff WHEN 3 THEN pa_cos
           |         WHEN 4 THEN pa_sin WHEN 5 THEN va_cos ELSE va_sin END AS value
           |FROM ($edgeFeatureSelect)
           |CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS k)""".stripMargin))))

  /** Kinematics + possession, unfiltered (the graph kernel's padding
    * does the frame completion itself). */
  private def paddedInput(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
    val kin = Kinematics(trk, TrackingSettings(), None, None)
    // accel is unused by features (see pipeline()); ball_state and
    // timestamp are pure passthrough the nested output never emits
    Possession.inferBallCarrier(kin, TrackingSettings())
      .drop(Ax, Ay, Az, Acceleration, BallState, Timestamp)
  }
}
