package graft.models

import graft.tracking.{Cols, TrackingSettings}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
    * clusters by the frame key). Output is bit-identical to
    * [[pairsStaged]] (six q_pi_* oracle hashes + PiPairsFusedSpec). */
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
    // path's frame-key inner join drops it, so it must not form a group
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

  /** The pre-r18 staged pipeline (window → stage-boundary repartition →
    * pair self-join → ball-merge window), kept as the honest A/B for
    * [[pairs]] and for PiPairsFusedSpec's staged-vs-fused equality. */
  def pairsStaged(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      params: Params = Params()): DataFrame =
    scorePairs(pairJoin(indexedBase(df, settings, params), params), settings, params)

  /** Stage 1 of [[pairsStaged]] — the indexed base relation (side
    * masks + the single frame-window index pass). */
  private[graft] def indexedBase(
      df: DataFrame,
      settings: TrackingSettings,
      params: Params): DataFrame = {
    // home/away orients compare team_id against the home id in BOTH the
    // full-method node ordering and the transpose decision; with it
    // unset every comparison would be silently false (id-order nodes,
    // never transposed) instead of an error.
    require(!Set("home_away", "away_home")(params.orient) || settings.homeTeamId.isDefined,
      s"orient='${params.orient}' requires TrackingSettings.homeTeamId to be set")
    val isBall = col(TeamId) === Ball
    val isOwning = col(TeamId) === col(BallOwningTeamId)

    // side membership (pressing_intensity.py:164-251)
    val (colSide, rowSide) = params.method match {
      case "teams" => params.ballMethod match {
        case "exclude" => (isOwning && !isBall, !isOwning && !isBall)
        case _         => (isOwning || isBall, !(isOwning || isBall))
      }
      case "full" =>
        val all = if (params.ballMethod == "exclude") !isBall else lit(true)
        (all, all)
    }

    // ONE indexed base relation serves both sides. A single window pass
    // assigns the global frame-order index replicating the reference's
    // orient-dependent stable sort (pressing_intensity.py:520-552, ball
    // always last via nulls_last): for "teams" the side masks make the
    // first group the owning side regardless of orient (side-internal
    // order is id-ascending either way), while for "full" the node
    // order IS the sort order — home/away/owning/defending first per
    // orient. Each side's 0-based matrix index is then pure arithmetic:
    // within the column side, owning players keep their global index
    // and the ball lands at n_owning; within the row side, defenders
    // shift down by n_owning. Both pair-join inputs are filters over
    // this SAME subtree, so the second side is served from the first's
    // shuffle files (ReusedExchange) and the upstream kinematics/
    // possession lineage executes once, not per side; the join itself
    // reuses the window's frame-key partitioning and sort, adding no
    // exchange.
    val isHomeTeam = col(TeamId) === lit(settings.homeTeamId.getOrElse(""))
    val sideRank: Column = params.method match {
      case "full" => params.orient match {
        case "home_away" => when(isBall, 2).when(isHomeTeam, 0).otherwise(1)
        case "away_home" => when(isBall, 2).when(isHomeTeam, 1).otherwise(0)
        case "pressing"  => when(isBall, 2).when(isOwning, 1).otherwise(0)
        case _           => when(isBall, 2).when(isOwning, 0).otherwise(1)
      }
      case _ => when(isBall, 2).when(isOwning, 0).otherwise(1)
    }
    val wOrdered = Window.partitionBy(frameKeys.map(col): _*)
      .orderBy(sideRank.asc, col(ObjectId).asc)
    val gidx = row_number().over(wOrdered) - 1
    // same (partition, order) spec with an explicit whole-partition
    // frame so both expressions land in ONE Window node (an unordered
    // spec would force a second Window pass; the value is identical)
    val nOwn = sum((isOwning && !isBall).cast("int")).over(
      wOrdered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    df.filter(colSide || rowSide)
      .select(col("*"), gidx.as("__gidx"), nOwn.as("__nown"))
      .withColumn("__cmem", colSide)
      .withColumn("__rmem", rowSide)
      // explicit frame-key exchange = an AQE stage boundary right here:
      // both pair-join sides are filters over this subtree, and stage
      // reuse only happens at exchange boundaries — without this, the
      // whole possession+index window chain (which rides the upstream
      // exchange's partitioning, so no boundary of its own) re-executes
      // once PER SIDE (verified in the r17 executed plan). One narrow
      // re-shuffle of the indexed base buys single execution of the
      // window chain; the join itself still reuses this stage's output.
      .repartition(frameKeys.map(col): _*)
  }

  /** Stage 2 of [[pairs]] — the per-frame pair fan-out: both join
    * inputs are filters over the SAME indexed subtree (ReusedExchange
    * serves the second side) and the join reuses the window's
    * frame-key partitioning. */
  private[graft] def pairJoin(indexed: DataFrame, params: Params): DataFrame = {
    val isBall = col(TeamId) === Ball
    val (cIdx, rIdx) = params.method match {
      case "teams" =>
        (when(isBall, col("__nown")).otherwise(col("__gidx")).cast("int"),
          (col("__gidx") - col("__nown")).cast("int"))
      case "full" => (col("__gidx").cast("int"), col("__gidx").cast("int"))
    }
    def side(member: Column, p: String, idx: Column, ts: String): DataFrame =
      indexed.filter(member)
        .select(frameKeys.map(col) ++ Seq(col(Timestamp).as(ts),
          col(ObjectId).as(s"${p}_id"), idx.as(s"${p}_idx"),
          isBall.as(s"${p}_ball"), col(IsBallCarrier).as(s"${p}_carrier"),
          col(X).as(s"${p}_x"), col(Y).as(s"${p}_y"), col(Z).as(s"${p}_z"),
          col(Vx).as(s"${p}_vx"), col(Vy).as(s"${p}_vy"), col(Vz).as(s"${p}_vz"),
          col(Speed).as(s"${p}_v"), col(BallOwningTeamId).as(s"${p}_boti")): _*)

    val c = side(col("__cmem"), "c", cIdx, "ts")
    val r = side(col("__rmem"), "r", rIdx, "ts2")

    r.join(c, frameKeys)
  }

  /** Stage 3 of [[pairs]] — the TTI/PTI arithmetic, ball-merge,
    * masking and orientation transpose over the joined pair rows. */
  private[graft] def scorePairs(
      joined: DataFrame,
      settings: TrackingSettings,
      params: Params): DataFrame = {
    // --- TTI (models/utils.py:74-99, replicated operation-for-operation)
    val ux = (col("c_x") + col("c_vx")) - col("c_x")
    val uy = (col("c_y") + col("c_vy")) - col("c_y")
    val uz = (col("c_z") + col("c_vz")) - col("c_z")
    val uMag = sqrt(ux * ux + uy * uy + uz * uz)
    val d2x = col("r_x") + col("r_vx")
    val d2y = col("r_y") + col("r_vy")
    val d2z = col("r_z") + col("r_vz")
    val vxx = d2x - col("c_x"); val vyy = d2y - col("c_y"); val vzz = d2z - col("c_z")
    val vMag = sqrt(vxx * vxx + vyy * vyy + vzz * vzz)
    val dot = ux * vxx + uy * vyy + uz * vzz
    val angle = acos(dot / (uMag * vMag + lit(1e-10)))
    val rt = lit(params.reactionTime)
    val dx = d2x - (col("c_x") + col("c_vx") * rt)
    val dy = d2y - (col("c_y") + col("c_vy") * rt)
    val dz = d2z - (col("c_z") + col("c_vz") * rt)
    val dMag = sqrt(dx * dx + dy * dy + dz * dz)
    val ttiRaw = uMag * angle / lit(math.Pi) + rt + dMag / lit(settings.maxPlayerSpeed)

    val withTti = joined.withColumn("__tti", ttiRaw)

    // --- ball_method = "max": fold the ball column into the carrier
    // column (elementwise min), then drop ball col (and ball row in
    // "full") — pressing_intensity.py:153-160, 279-287
    val merged = if (params.ballMethod == "max") {
      val wRow = Window.partitionBy((frameKeys :+ "r_id").map(col): _*)
      val ballTti = max(when(col("c_ball"), col("__tti"))).over(wRow)
      val m = withTti
        .withColumn("__tti",
          when(col("c_carrier"), least(col("__tti"), ballTti)).otherwise(col("__tti")))
        .filter(!col("c_ball"))
      if (params.method == "full") m.filter(!col("r_ball")) else m
    } else withTti

    // --- PTI from (merged) TTI, then full-method diagonal = 0 on TTI
    // only (reference fills the tti diagonal *after* computing pti)
    val expArg = lit(-math.Pi) / lit(math.sqrt(3.0)) / lit(params.sigma) *
      (lit(params.timeThreshold) - col("__tti"))
    val pti = lit(1.0) / (lit(1.0) + exp(least(greatest(expArg, lit(-700.0)), lit(700.0))))
    val withPti = merged.withColumn("__pti", pti)
    val diag = if (params.method == "full")
      withPti.withColumn("__tti", when(col("r_id") === col("c_id"), 0.0).otherwise(col("__tti")))
    else withPti

    // --- speed-threshold masking zeroes pti rows/cols (:299-301)
    val maskedPti = params.speedThreshold match {
      case Some(th) =>
        diag.withColumn("__pti",
          when(col("r_v") < th || col("c_v") < th, 0.0).otherwise(col("__pti")))
      case None => diag
    }

    // --- orientation transpose (:303-326): swap rows and columns
    val transposed = params.orient match {
      case "pressing" => lit(true)
      case "home_away" => col("r_boti") === lit(settings.homeTeamId.getOrElse(""))
      case "away_home" => col("r_boti") =!= lit(settings.homeTeamId.getOrElse(""))
      case _ => lit(false)
    }
    maskedPti.select(
      (frameKeys.map(col) :+ col("ts").as(Timestamp)) ++ Seq(
        when(transposed, col("c_id")).otherwise(col("r_id")).as("row_id"),
        when(transposed, col("r_id")).otherwise(col("c_id")).as("col_id"),
        when(transposed, col("c_idx")).otherwise(col("r_idx")).as("row_idx"),
        when(transposed, col("r_idx")).otherwise(col("c_idx")).as("col_idx"),
        col("__tti").as("tti"), col("__pti").as("pti")): _*)
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
