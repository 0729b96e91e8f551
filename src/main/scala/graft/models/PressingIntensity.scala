package graft.models

import graft.tracking.{Cols, TrackingSettings}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pressing Intensity (arXiv:2501.04712) — Time-to-Intercept /
  * Probability-to-Intercept matrices per frame.
  *
  * Reference: `unravel/soccer/models/pressing_intensity.py:136-565` and
  * `models/utils.py:4-99`, which run a NumPy kernel per frame via
  * `map_groups`. Here the whole model is a **within-frame pair join**
  * with native column arithmetic — no UDF, no per-frame Python/Scala
  * callback — so it scales horizontally with the frame-key shuffle and
  * stays inside whole-stage codegen.
  *
  * TTI per (row i = defending side, col j = possession side), all 3D
  * (`models/utils.py:74-97`):
  * {{{
  *   u_j   = (p1_j + v1_j) - p1_j
  *   d2_i  = p2_i + v2_i
  *   angle = acos( u_j·(d2_i - p1_j) / (|u_j| |d2_i - p1_j| + 1e-10) )
  *   tti   = |u_j|·angle/π + t_r + |d2_i - (p1_j + v1_j·t_r)| / v_max
  * }}}
  * PTI = 1/(1+exp(clip(-π/√3/σ·(θ - tti), ±700))) (`utils.py:4-14`).
  */
object PressingIntensity {
  import Cols._

  final case class Params(
      method: String = "teams",        // teams | full
      ballMethod: String = "max",      // include | exclude | max
      orient: String = "ball_owning",  // ball_owning | pressing | home_away | away_home
      speedThreshold: Option[Double] = None,
      reactionTime: Double = 0.7,
      timeThreshold: Double = 1.5,
      sigma: Double = 0.45) {
    require(Set("teams", "full")(method), "method should be 'teams' or 'full'")
    require(Set("include", "exclude", "max")(ballMethod),
      "ball_method should be 'include', 'exclude' or 'max'")
    require(Set("ball_owning", "pressing", "home_away", "away_home")(orient),
      "orient should be 'ball_owning', 'pressing', 'home_away', 'away_home'")
  }

  private val frameKeys = Seq(GameId, PeriodId, FrameId)

  /** M4 time-range filter (`pressing_intensity.py:510-514`): keep one
    * period's frames inside [start, end] micros. The reference requires
    * all three or none — mirrored here by taking them together. */
  def filterTimeRange(df: DataFrame, startMicros: Long, endMicros: Long, periodId: Int): DataFrame =
    df.filter(col(Timestamp).between(startMicros, endMicros) && col(PeriodId) === periodId)

  /** Long-format pair table: one row per (frame, row object, col object)
    * with `tti`/`pti`, plus the 0-based matrix indices `row_idx`/
    * `col_idx` that reproduce the reference's node ordering (possession
    * side ordered players-then-ball by id; defending side by id). This
    * is the scalable core; [[matrices]] folds it to the nested form.
    *
    * Optimization round 18 (guide §1.2/§2.4): the whole model is
    * frame-local, so ONE per-frame TypedImperativeAggregate
    * ([[graft.functions.PiPairsAgg]]) replaces the staged
    * window → repartition → self-join → window chain — the plan is the
    * upstream lineage plus one ObjectHashAggregate and an explode, with
    * no exchange of its own (the possession stage upstream already
    * clusters by the frame key). Output matches the staged chain, now
    * the test-side reference `PiStagedReference` (six q_pi_* oracle
    * hashes + PiPairsFusedSpec: `tti` bit-exact, `pti` within 4 ULP). */
  def pairs(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      params: Params = Params()): DataFrame = {
    require(!Set("home_away", "away_home")(params.orient) || settings.homeTeamId.isDefined,
      s"orient='${params.orient}' requires TrackingSettings.homeTeamId to be set")
    val isBall = col(TeamId) === Ball
    val isOwning = col(TeamId) === col(BallOwningTeamId)
    // the staged `.filter(colSide || rowSide)` — pre-filter outside the
    // aggregate so non-member rows are not shuffled (the agg re-checks
    // membership in eval, so the two are exactly equivalent)
    val (colSide, rowSide) = params.method match {
      case "teams" => params.ballMethod match {
        case "exclude" => (isOwning && !isBall, !isOwning && !isBall)
        case _         => (isOwning || isBall, !(isOwning || isBall))
      }
      case "full" =>
        val all = if (params.ballMethod == "exclude") !isBall else lit(true)
        (all, all)
    }
    // a row with a null frame key belongs to no frame: the staged
    // chain's frame-key inner join drops it, so it must not form a group
    val keyed = frameKeys.map(col(_).isNotNull).reduce(_ && _)
    df.filter(keyed && (colSide || rowSide))
      .groupBy(frameKeys.map(col): _*)
      .agg(graft.functions.PiPairsAgg.piPairs(settings, params,
        col(Timestamp), col(ObjectId), col(TeamId), col(BallOwningTeamId),
        col(IsBallCarrier), col(X), col(Y), col(Z),
        col(Vx), col(Vy), col(Vz), col(Speed)).as("__pp"))
      .select(frameKeys.map(col) :+ explode(col("__pp")).as("__pr"): _*)
      .select(frameKeys.map(col) ++ Seq(
        col("__pr.ts").as(Timestamp),
        col("__pr.row_id").as("row_id"), col("__pr.col_id").as("col_id"),
        col("__pr.row_idx").as("row_idx"), col("__pr.col_idx").as("col_idx"),
        col("__pr.tti").as("tti"), col("__pr.pti").as("pti")): _*)
  }

  /** Nested per-frame output matching the reference schema
    * (`pressing_intensity.py:328-337`): `time_to_intercept` /
    * `probability_to_intercept` ARRAY<ARRAY<DOUBLE>> in row-major node
    * order plus `rows`/`columns` label arrays. */
  def matrices(pairsDf: DataFrame): DataFrame = {
    // direct-to-grid aggregation (graft.functions.OrderedTensorAgg):
    // one TypedImperativeAggregate replaces the collect_list +
    // array_sort + four interpreted transform/element_at rebuilds;
    // (row_idx, col_idx) is unique per frame, so the pair sort equals
    // the full-struct sort, and the positional fill (cols = |distinct
    // col_idx|, rows = total/cols, labels from the first row/column)
    // is the generic shape's exact recipe
    pairsDf
      .groupBy((frameKeys :+ Timestamp).map(col): _*)
      .agg(graft.functions.OrderedTensorAgg.gridMatrices(
        col("row_idx"), col("col_idx"), col("row_id"), col("col_id"),
        col("tti") -> "time_to_intercept",
        col("pti") -> "probability_to_intercept").as("__m"))
      .select(
        (frameKeys :+ Timestamp).map(col) ++ Seq(
          col("__m").getField("time_to_intercept").as("time_to_intercept"),
          col("__m").getField("probability_to_intercept").as("probability_to_intercept"),
          col("__m").getField("rows").as("rows"),
          col("__m").getField("columns").as("columns")): _*)
  }
}
