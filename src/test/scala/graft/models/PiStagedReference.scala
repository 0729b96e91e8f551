package graft.models

import graft.models.PressingIntensity.Params
import graft.tracking.{Cols, TrackingSettings}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The staged Pressing Intensity pipeline that [[PressingIntensity.pairs]]
  * replaced (window → stage-boundary repartition → pair self-join →
  * ball-merge window), kept as the reference PiPairsFusedSpec and
  * FrameKernelParitySpec compare the frame kernel ([[PiPairsKernel]])
  * against: `tti` bit-exact, `pti` within 4 ULP. It keeps its own
  * Column tree rather than the definitions the kernel evaluates, so the
  * comparison checks them against an independent copy of the
  * arithmetic. Same output schema as [[PressingIntensity.pairs]]. */
object PiStagedReference {
  import Cols._

  private val frameKeys = Seq(GameId, PeriodId, FrameId)

  def pairs(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      params: Params = Params()): DataFrame =
    scorePairs(pairJoin(indexedBase(df, settings, params), params), settings, params)

  /** Stage 1 of [[pairs]] — the indexed base relation (side
    * masks + the single frame-window index pass). */
  private def indexedBase(
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
  private def pairJoin(indexed: DataFrame, params: Params): DataFrame = {
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
  private def scorePairs(
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
}
