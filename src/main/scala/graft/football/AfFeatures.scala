package graft.football

import graft.functions.{Group, GroupGenerator, GroupLocal}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField}

/** American-football node (G4, 20 cols) and edge (G5, 9 cols) feature
  * expressions, mirroring
  * `american_football/graphs/features/node_features.py:18-151` and
  * `features/edge_features.py:14-84` as pure column algebra — the
  * per-frame ball position comes from a window aggregate, pairwise
  * features from a within-frame self-join; everything stays in
  * whole-stage codegen.
  *
  * The reference's trailing `np.nan_to_num` maps every NaN (null here)
  * feature to 0 — each expression is wrapped in `coalesce(_, 0)`.
  */
object AfFeatures {
  import BigDataBowl.{Football, PitchLength, PitchWidth}

  /** Converter-level knobs (`american_football/graphs/graph_settings
    * .py` + the caps the dataset threads through,
    * `dataset.py:140-176`). Defaults are the library defaults; the
    * reference's own fixture tests run 8/28/10/10 with
    * defending_team_node_value=0.0
    * (`test_american_football.py:47-60,160-170`). */
  final case class AfSettings(
      maxPlayerSpeed: Double = 12.0,
      maxBallSpeed: Double = 28.0,
      maxPlayerAcc: Double = 6.0,
      maxBallAcc: Double = 13.5,
      defendingNodeValue: Double = 0.1,
      attackingNonQbValue: Double = 0.1)

  // graph_settings.py defaults
  val MaxPlayerSpeed = 12.0
  val MaxBallSpeed = 28.0
  val MaxPlayerAcc = 6.0
  val MaxBallAcc = 13.5
  val MinHeight = 150.0
  val MaxHeight = 225.0
  val MinWeight = 60.0
  val MaxWeight = 200.0
  val DefendingNodeValue = 0.1
  val AttackingNonQbValue = 0.1

  private val frameKeys = Seq("game_id", "play_id", "frame_id")
  private def wFrame = Window.partitionBy(frameKeys.map(col): _*)

  private val xMax = PitchLength / 2.0
  private val yMin = -(PitchWidth / 2.0)
  private val yMax = PitchWidth / 2.0
  private val maxDist = math.sqrt(PitchLength * PitchLength + PitchWidth * PitchWidth)
  private val endZone = xMax - 10.0

  private def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))
  private def sincosNorm(c: Column): Column = (coalesce(c, lit(0.0)) + 1.0) / 2.0
  private def z(c: Column): Column = coalesce(c, lit(0.0))

  /** Direction components from magnitude+angle, normalized by the
    * FRAME-GLOBAL Frobenius norm — replicating the reference exactly:
    * `unit_vector_from_angle` (`features/utils.py:150-166`) is written
    * for a single vector, but the AF converter feeds it the whole
    * frame's arrays, so `np.linalg.norm` (no axis) divides every
    * object's (m·cos, m·sin) by √Σᵢmᵢ² — NOT a per-object unit vector.
    * The fixture goldens (`test_american_football.py:86-156`) pin this
    * behavior, so we mirror it: a frame-key window sum plays the role
    * of the global norm, zeros when the whole frame is static. */
  private def unitFromAngle(mag: Column, ang: Column): (Column, Column) = {
    val m = coalesce(mag, lit(0.0)); val an = coalesce(ang, lit(0.0))
    val vx = m * cos(an); val vy = m * sin(an)
    val norm = sqrt(sum(m * m).over(wFrame))
    (when(norm === 0.0, 0.0).otherwise(vx / norm),
     when(norm === 0.0, 0.0).otherwise(vy / norm))
  }

  /** Adds `bx`/`by` (per-frame football position) and the 20 node
    * feature columns named f01..f20 in reference stacking order. */
  def withNodeFeatures(
      df: DataFrame,
      settings: AfSettings = AfSettings()): DataFrame = {
    val isBall = col("team_id") === Football
    val base = df
      .withColumn("bx", max(when(isBall, col("x"))).over(wFrame))
      .withColumn("by", max(when(isBall, col("y"))).over(wFrame))
    val (uvSx, uvSy) = unitFromAngle(col("v"), col("dir"))
    val (uvAx, uvAy) = unitFromAngle(col("a"), col("dir"))
    val owning = col("team_id") === col("ball_owning_team_id")
    val feats: Seq[(String, Column)] = Seq(
      "x_n" -> (col("x") - (-xMax)) / (xMax - (-xMax)),
      "y_n" -> (col("y") - yMin) / (yMax - yMin),
      "uv_sx" -> uvSx,
      "uv_sy" -> uvSy,
      "s_n" -> clip(col("v") / when(isBall, settings.maxBallSpeed)
        .otherwise(settings.maxPlayerSpeed), 0, 1),
      "uv_ax" -> uvAx,
      "uv_ay" -> uvAy,
      "a_n" -> clip(col("a") / when(isBall, settings.maxBallAcc)
        .otherwise(settings.maxPlayerAcc), -1, 1),
      "dir_sin" -> sincosNorm(sin(col("dir"))),
      "dir_cos" -> sincosNorm(cos(col("dir"))),
      "o_sin" -> sincosNorm(sin(col("o"))),
      "o_cos" -> sincosNorm(cos(col("o"))),
      "dgoal" -> sqrt((col("x") - xMax) * (col("x") - xMax) + (col("y") - 0.0) * (col("y") - 0.0)) / maxDist,
      "dball" -> sqrt((col("x") - col("bx")) * (col("x") - col("bx"))
        + (col("y") - col("by")) * (col("y") - col("by"))) / maxDist,
      "dend" -> (lit(endZone) - col("x") - 0.0) / (PitchLength - 0.0),
      "poss" -> when(owning, 1.0).otherwise(settings.defendingNodeValue),
      "qb" -> when(col("position_name") === "QB", 1.0)
        .otherwise(when(owning, settings.attackingNonQbValue).otherwise(0.0)),
      "ball" -> when(isBall, 1.0).otherwise(0.0),
      "weight_n" -> (col("weight_kg") - MinWeight) / (MaxWeight - MinWeight),
      "height_n" -> (col("height_cm") - MinHeight) / (MaxHeight - MinHeight))
    feats.foldLeft(base) { case (d, (n, c)) => d.withColumn(n, z(c)) }
  }

  val NodeFeatureNames: Seq[String] = Seq(
    "x_n", "y_n", "uv_sx", "uv_sy", "s_n", "uv_ax", "uv_ay", "a_n",
    "dir_sin", "dir_cos", "o_sin", "o_cos", "dgoal", "dball", "dend",
    "poss", "qb", "ball", "weight_n", "height_n")

  /** The reference node order (same sort as soccer,
    * `american_football/graphs/graph_converter.py:189-196`): this rank
    * ascending (possession team -1, others 0, ball 2), then object id. */
  private def nodeRank: Column = {
    val isBall = col("team_id") === Football
    val owning = (col("ball_owning_team_id") === col("team_id")) && !isBall
    isBall.cast("int") * 2 - owning.cast("int")
  }

  /** Adds `node_idx` — the frame's 0-based position in the reference
    * node order ([[nodeRank]], then id). */
  def withNodeIndex(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(frameKeys.map(col): _*).orderBy(nodeRank.asc, col("id").asc)
    df.withColumn("node_idx", row_number().over(w) - 1)
  }

  /** Nested per-play-frame AF node tensor: `x` (n×20, features rounded
    * to 6 decimals) + `object_ids`, in reference node order — the AF
    * counterpart of the soccer GraphConverter.graphFrames node side
    * (AF never pads: `graph_converter.py` emits frames as-is). A frame
    * kernel on the group-local node ([[GroupLocal]]) reads the frame's
    * rows in node order and emits them as one row. */
  def graphFrames(df: DataFrame): DataFrame = {
    val feats = array(NodeFeatureNames.map(n => round(col(n), 6)): _*)
    val nf = withNodeFeatures(df)
      .select(frameKeys.map(col) ++ Seq(nodeRank.as("__rank"), col("id"), feats.as("__x")): _*)
    GroupLocal(nf, frameKeys, Seq("__rank", "id"),
      new NodeTensorKernel(nf.schema("id").dataType, nf.schema("__x").dataType))
  }

  /** One frame's rows, in node order → its `x` and `object_ids`. */
  private final class NodeTensorKernel(idType: DataType, xType: DataType) extends GroupGenerator {
    override def inputs: Seq[(String, DataType)] = Seq("id" -> idType, "__x" -> xType)
    override def output: Seq[StructField] = Seq(
      StructField("x", ArrayType(xType, containsNull = true)),
      StructField("object_ids", ArrayType(idType, containsNull = true)))
    override def run(g: Group): Iterator[InternalRow] = {
      val x = new Array[Any](g.size)
      val ids = new Array[Any](g.size)
      var i = 0
      while (i < g.size) {
        ids(i) = g.get(i, 0)
        x(i) = g.get(i, 1)
        i += 1
      }
      Iterator.single(new GenericInternalRow(Array[Any](new GenericArrayData(x), new GenericArrayData(ids))))
    }
  }

  /** Within-frame pair table with AF adjacency (split_by_team + ball
    * connect) and the 9 edge feature columns (i = matrix row). */
  def pairs(df: DataFrame, settings: AfSettings = AfSettings()): DataFrame = {
    val cols = Seq("id", "team_id", "x", "y", "v", "a", "o", "dir")
    def sided(p: String) =
      df.select(frameKeys.map(col) ++ cols.map(c => col(c).as(s"${p}_$c")): _*)
    val joined = sided("i").join(sided("j"), frameKeys)
    val iBall = col("i_team_id") === Football
    val jBall = col("j_team_id") === Football
    val a = ((col("i_team_id") === col("j_team_id")) || iBall || jBall).cast("int")

    val sdiff = z(col("j_v") - col("i_v"))
    val smax = when(iBall, settings.maxBallSpeed).otherwise(settings.maxPlayerSpeed)
    val adiff = z(col("j_a") - col("i_a"))
    val amax = when(iBall, settings.maxBallAcc).otherwise(settings.maxPlayerAcc)
    val pang = atan2(col("i_y") - col("j_y"), col("i_x") - col("j_x"))
    val dirDiff = col("j_dir") - col("i_dir")
    val oDiff = col("j_o") - col("i_o")

    joined
      .withColumn("a", a)
      .withColumn("dist_n", z(sqrt((col("i_x") - col("j_x")) * (col("i_x") - col("j_x"))
        + (col("i_y") - col("j_y")) * (col("i_y") - col("j_y"))) / maxDist))
      .withColumn("sdiff_n", z(clip(sdiff / smax, 0, 1) * signum(sdiff) + 0.0))
      .withColumn("adiff_n", z(clip(adiff / amax, -1, 1)))
      .withColumn("pos_cos", sincosNorm(cos(pang)))
      .withColumn("pos_sin", sincosNorm(sin(pang)))
      .withColumn("dir_cos", sincosNorm(cos(dirDiff)))
      .withColumn("dir_sin", sincosNorm(sin(dirDiff)))
      .withColumn("o_cos", sincosNorm(cos(oDiff)))
      .withColumn("o_sin", sincosNorm(sin(oDiff)))
  }

  val EdgeFeatureNames: Seq[String] = Seq(
    "dist_n", "sdiff_n", "adiff_n", "pos_cos", "pos_sin",
    "dir_cos", "dir_sin", "o_cos", "o_sin")
}
