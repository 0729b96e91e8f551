package graft.queries

import graft.core.{GraftQuery, QueryModule}
import graft.tracking._
import org.apache.spark.sql.functions._

/** Tracking-engine operators (SURVEY.md §2 M8-M11, W1, A6, P3) oracled
  * against DuckDB over the deterministic synthetic tracking table. The
  * Spark side runs the *library* code (graft.tracking); the oracle runs
  * hand-derived SQL with identical arithmetic. */
object TrackingQueries extends QueryModule {
  import Cols._

  private def withCtes(parts: String*)(select: String): String =
    s"WITH ${parts.mkString(",\n")}\n$select"

  override def queries: Seq[GraftQuery] = Seq(
    // ----- W1 + P5 + P3: full kinematics chain (no smoothing) -----
    GraftQuery(
      "q_trk_kinematics",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        Kinematics(trk, TrackingSettings(), None, None)
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(Vx), col(Vy), col(Speed).as("v"), col(Ax), col(Ay), col(Acceleration).as("a"))
      },
      Some(withCtes(SyntheticTracking.cte, SyntheticTracking.velCte)(
        "SELECT game_id, period_id, frame_id, id, vx, vy, v, ax, ay, a FROM vel")),
      headline = true),

    // ----- A6: Savitzky-Golay smoothing (the oracle's FIR window terms) -----
    GraftQuery(
      "q_trk_savgol",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        Kinematics(trk, TrackingSettings(), Some(SavGol.DefaultPlayer), Some(SavGol.DefaultBall))
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(Vx).as("vx_s"))
      },
      Some {
        val over = "w"
        val player = SavGol.DefaultPlayer.sql("vx", over, "cnt", "rn")
        val ball = SavGol.DefaultBall.sql("vx", over, "cnt", "rn")
        withCtes(SyntheticTracking.cte, SyntheticTracking.velCte,
          """vidx AS (
            |  SELECT *, count(*) OVER (PARTITION BY game_id, id, period_id) AS cnt,
            |         row_number() OVER (PARTITION BY game_id, id, period_id ORDER BY ts_us) AS rn
            |  FROM vel
            |)""".stripMargin)(
          s"""SELECT game_id, period_id, frame_id, id,
             |  CASE WHEN id = 'ball' THEN ($ball) ELSE ($player) END AS vx_s
             |FROM vidx
             |WINDOW w AS (PARTITION BY game_id, id, period_id ORDER BY ts_us)""".stripMargin)
      }),

    // ----- M8: possession / ball-carrier inference -----
    GraftQuery(
      "q_trk_possession",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByFrame)
        Possession.inferBallCarrier(trk, TrackingSettings())
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(BallOwningTeamId), col(IsBallCarrier))
      },
      Some(withCtes(SyntheticTracking.cte, SyntheticTracking.possessionCte)(
        """SELECT game_id, period_id, frame_id, id,
          |  owning AS ball_owning_team_id,
          |  coalesce(id = carrier, false) AS is_ball_carrier
          |FROM poss WHERE owning IS NOT NULL""".stripMargin)),
      headline = true),

    // ----- M9: goalkeeper inference (downstream of possession) -----
    GraftQuery(
      "q_trk_gk",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByFrame)
        val withPoss = Possession.inferBallCarrier(trk, TrackingSettings())
        Goalkeepers.infer(withPoss, TrackingSettings())
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(PositionName))
      },
      Some(withCtes(SyntheticTracking.cte, SyntheticTracking.possessionCte,
        """gbase AS (
          |  SELECT * FROM poss WHERE owning IS NOT NULL
          |),
          |gdist AS (
          |  SELECT *,
          |    CASE WHEN team_id = 'ball' THEN NULL
          |      ELSE sqrt((x - (-52.5))*(x - (-52.5)) + y*y) END AS dl,
          |    CASE WHEN team_id = 'ball' THEN NULL
          |      ELSE sqrt((x - 52.5)*(x - 52.5) + y*y) END AS dr
          |  FROM gbase
          |),
          |gmin AS (
          |  SELECT *, min(dl) OVER wt AS mdl, min(dr) OVER wt AS mdr
          |  FROM gdist
          |  WINDOW wt AS (PARTITION BY game_id, period_id, frame_id, team_id)
          |)""".stripMargin)(
        """SELECT game_id, period_id, frame_id, id,
          |  CASE WHEN team_id = 'ball' THEN NULL
          |       WHEN team_id = owning THEN (CASE WHEN dl = mdl THEN 'GK' END)
          |       ELSE (CASE WHEN dr = mdr THEN 'GK' END) END AS position_name
          |FROM gmin""".stripMargin))),

    // ----- M10: orientation flip to ball-owning -----
    GraftQuery(
      "q_trk_flip",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByFrame)
        val withPoss = Possession.inferBallCarrier(trk, TrackingSettings())
        Orientation.toBallOwning(withPoss, homeTeamId = "home")
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col(X), col(Y))
      },
      Some(withCtes(SyntheticTracking.cte, SyntheticTracking.possessionCte)(
        """SELECT game_id, period_id, frame_id, id,
          |  CASE WHEN owning <> 'home' THEN x * -1 ELSE x END AS x,
          |  CASE WHEN owning <> 'home' THEN y * -1 ELSE y END AS y
          |FROM poss WHERE owning IS NOT NULL""".stripMargin))),

    // ----- M11/F4: graph id assembly -----
    GraftQuery(
      "q_trk_graphid",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
        Labels.addGraphIds(trk, Seq(GameId, FrameId))
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"), col(GraphId))
      },
      Some(withCtes(SyntheticTracking.cte)(
        """SELECT game_id, period_id, frame_id, id,
          |  concat_ws('-', game_id, frame_id) AS graph_id
          |FROM tracking""".stripMargin))),

    // ----- J6/M11: dummy labels. Seeded rand() differs across engines
    // by design, so the oracle checks the CONTRACT: one label per key
    // combination, values in {0,1} (the reference's random.choice([0,1])
    // per unique combination, utils.py:41-70).
    GraftQuery(
      "q_trk_labels",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
        Labels.addDummyLabels(trk, Seq(GameId, FrameId), seed = 42L)
          .groupBy(col(GameId), col(FrameId))
          .agg(countDistinct(col(Label)).as("n_labels"),
            min(col(Label).isin(0L, 1L).cast("long")).as("label_in_domain"))
      },
      Some(withCtes(SyntheticTracking.cte)(
        """SELECT game_id, frame_id,
          |  CAST(1 AS BIGINT) AS n_labels, CAST(1 AS BIGINT) AS label_in_domain
          |FROM (SELECT DISTINCT game_id, frame_id FROM tracking)""".stripMargin))),

    // ----- W5: min-rank at duplicated sort key (plot path,
    // graph_converter.py:895-903) -----
    GraftQuery(
      "q_rank_dup_ts",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(GameId), col(PeriodId)).orderBy(col(Timestamp))
        SyntheticTracking.df(s, d, Seq(GameId, PeriodId))
          .withColumn("rnk", rank().over(w))
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(withCtes(SyntheticTracking.cte)(
        """SELECT game_id, period_id, frame_id, id,
          |  rank() OVER (PARTITION BY game_id, period_id ORDER BY ts_us) AS rnk
          |FROM tracking""".stripMargin))),

    // ----- W7: search_sorted next-frame lookup, distributed -----
    // Targets sit mid-frame (ts + 20 ms on every 7th frame), so each
    // resolves to the NEXT frame timestamp or null past the end.
    GraftQuery(
      "q_search_sorted",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d)
        val targets = trk.select(col(GameId), col(Timestamp)).distinct()
          .filter(col(Timestamp) % 280000 === 0)
          .select(col(GameId), (col(Timestamp) + 20000).as("target"))
        graft.tracking.TimeIndex.searchSorted(trk, targets)
      },
      Some(withCtes(SyntheticTracking.cte)(
        """SELECT game_id, ts AS target, next_ts FROM (
          |  SELECT *, min(CASE WHEN is_t = 0 THEN ts END) OVER
          |    (PARTITION BY game_id ORDER BY ts
          |     RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
          |  FROM (
          |    SELECT game_id, ts_us AS ts, 0 AS is_t
          |    FROM (SELECT DISTINCT game_id, ts_us FROM tracking)
          |    UNION ALL
          |    SELECT game_id, ts_us + 20000 AS ts, 1 AS is_t
          |    FROM (SELECT DISTINCT game_id, ts_us FROM tracking)
          |    WHERE ts_us % 280000 = 0))
          |WHERE is_t = 1""".stripMargin))),

    // ----- ray-line rotation (models/utils.py:102-269): reflect each
    // object through its velocity ray's intersection with the goal
    // line x=52.5 — row-local geometry, no shuffle beyond kinematics -----
    GraftQuery(
      "q_trk_ray_rotate",
      (s, d) => {
        val kin = Kinematics(SyntheticTracking.df(s, d, Cols.ByObjectPeriod), TrackingSettings(), None, None)
        graft.models.RayRotation.rotateAroundLine(kin, 52.5, -34.0, 52.5, 34.0)
          .select(col(GameId), col(PeriodId), col(FrameId), col(ObjectId).as("id"),
            round(col("rx"), 6).as("rx"), round(col("ry"), 6).as("ry"),
            round(col("rvx"), 6).as("rvx"), round(col("rvy"), 6).as("rvy"),
            col("valid"))
      },
      Some(withCtes(SyntheticTracking.cte, SyntheticTracking.velCte,
        """rr AS (
          |  SELECT *, sqrt(vx*vx + vy*vy) AS nrm FROM vel
          |),
          |rt AS (
          |  SELECT *, CASE WHEN nrm > 0 AND abs(vx/nrm) >= 1e-10
          |    THEN (52.5 - x)/(vx/nrm) END AS t FROM rr
          |),
          |ri AS (
          |  SELECT *, CASE WHEN t IS NOT NULL THEN y + t*(vy/nrm) END AS iyv FROM rt
          |),
          |rv AS (
          |  SELECT *, coalesce(t >= 0 AND iyv BETWEEN -34.0 AND 34.0, false) AS valid
          |  FROM ri
          |)""".stripMargin)(
        """SELECT game_id, period_id, frame_id, id,
          |  round(CASE WHEN valid THEN 2*(x + t*(vx/nrm)) - x ELSE x END, 6) + 0.0 AS rx,
          |  round(CASE WHEN valid THEN 2*iyv - y ELSE y END, 6) + 0.0 AS ry,
          |  round(CASE WHEN valid THEN -vx ELSE vx END, 6) + 0.0 AS rvx,
          |  round(CASE WHEN valid THEN -vy ELSE vy END, 6) + 0.0 AS rvy,
          |  valid
          |FROM rv""".stripMargin))))
}
