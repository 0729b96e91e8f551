package graft.graphs

import graft.tracking.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational graph-tensor assembly that the frame kernel
  * ([[graft.graphs.GraphKernel]]) replaced: the staged preparation
  * (relational padding or completeness filter, node index) followed by
  * `collect_list` + `array_sort` + `transform` rebuilds of `x`,
  * `object_ids`, `a` and `e` over the node features and the pair table
  * ([[GraphConverter.pairs]], which joins the Delaunay edge table for
  * that adjacency type). The graph specs compare
  * [[GraphConverter.graphFrames]] against [[graphFrames]] row for row.
  *
  * Per-frame columns are `first()` of any row, so on a frame whose
  * label, graph id or owning team varies the result is not defined; the
  * kernel's defined reductions are pinned on their own. */
object GraphAssemblyReference {
  import Cols._

  private val frameKeys = Seq(GameId, PeriodId, FrameId)
  private def wFrame = Window.partitionBy(frameKeys.map(col): _*)

  /** [[GraphConverter.graphFrames]]'s output, assembled generically. */
  def graphFrames(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    val prepared = GraphConverter.withNodeIndex(
      if (settings.pad) padFrames(df, labelCol, graphIdCol)
      else GraphConverter.removeIncompleteFrames(df))
    nodeTensor(prepared, settings, labelCol, graphIdCol)
      .join(pairTensor(prepared, settings), frameKeys)
  }

  /** G8: pad every frame to 11 players per team + 1 ball, then keep only
    * frames that reach exactly 11/11/1 (`graph_converter.py:240-440`).
    * Padding rows are regenerated relationally with the reference's
    * dtype defaults (`utils/utils.py:81-95`): "" for strings, 0 for
    * numerics, false for booleans. */
  def padFrames(
      df: DataFrame,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    val keepCols = Seq(Timestamp, BallState, labelCol, graphIdCol).filter(df.columns.contains)
    val groupCols = frameKeys ++ Seq(TeamId, BallOwningTeamId)

    // ONE aggregate drives all padding decisions: per-(frame, team)
    // deficits AND ball-less frames both come out of `counts`, so the
    // input is scanned once here instead of three times (the previous
    // two dropDuplicates + anti-join re-scanned the full input just to
    // find frames with no ball row)
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        keepCols.map(c => first(col(c)).as(c)): _*)
      .withColumn("__target", when(col(TeamId) === Ball, 1).otherwise(11))
      .withColumn("__repeats", col("__target") - col("__cnt"))

    val playerPad = counts.filter(col("__repeats") > 0)
      .withColumn("__seq", explode(sequence(lit(1), col("__repeats").cast("int"))))
      .drop("__cnt", "__target", "__repeats", "__seq")

    // frames with no ball row at all get one synthetic ball row
    val ballPad = counts
      .groupBy(frameKeys.map(col): _*)
      .agg(
        (max((col(TeamId) === Ball).cast("int")) === 1).as("__hasBall"),
        (Seq(first(col(BallOwningTeamId)).as(BallOwningTeamId)) ++
          keepCols.map(c => first(col(c)).as(c))): _*)
      .filter(!col("__hasBall"))
      .drop("__hasBall")
      .withColumn(TeamId, lit(Ball))

    val pads = playerPad.unionByName(ballPad, allowMissingColumns = true)

    // fill remaining columns with dtype defaults
    val defaults: Map[String, Column] = df.schema.fields.map { f =>
      f.name -> (f.dataType.typeName match {
        case "boolean" => lit(false)
        case "double" | "float" => lit(0.0).cast(f.dataType)
        case "integer" | "long" => lit(0).cast(f.dataType)
        case "string" => lit("")
        case _ => lit(null).cast(f.dataType)
      })
    }.toMap
    val positioned = pads.withColumn(PositionName,
      when(col(TeamId) === Ball, lit(Ball)).otherwise(lit("")))
    val completed = df.columns.foldLeft(positioned) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, defaults(c))
    }.select(df.columns.map(col): _*)

    val padded = df.unionByName(completed)

    // completeness: exactly 1 ball, 11 owning, 11 defending
    val isBall = col(TeamId) === Ball
    val isOwning = col(TeamId) === col(BallOwningTeamId)
    padded
      .select(col("*"),
        sum(isBall.cast("int")).over(wFrame).as("__nb"),
        sum(isOwning.cast("int")).over(wFrame).as("__no"),
        sum((!isBall && !isOwning).cast("int")).over(wFrame).as("__nd"))
      .filter(col("__nb") === 1 && col("__no") === 11 && col("__nd") === 11)
      .drop("__nb", "__no", "__nd")
  }

  /** One row per frame with `x` / `object_ids` (plus the label/graph-id
    * passthrough columns), ordered by `node_idx`. */
  def nodeTensor(
      prepared: DataFrame,
      settings: GraphSettings,
      labelCol: String,
      graphIdCol: String): DataFrame = {
    val optCols = Seq(labelCol, graphIdCol, BallOwningTeamId).filter(prepared.columns.contains)
    GraphConverter.withNodeFeatures(prepared, settings)
      .groupBy(frameKeys.map(col): _*)
      .agg(
        array_sort(collect_list(struct(col("node_idx"), col("x_features"), col(ObjectId))))
          .as("__nodes"),
        optCols.map(c => first(col(c)).as(c)): _*)
      .withColumn("x", transform(col("__nodes"), _.getField("x_features")))
      .withColumn("object_ids", transform(col("__nodes"), _.getField(ObjectId)))
      .drop("__nodes")
  }

  /** One row per frame with the adjacency matrix `a` and the edge
    * features `e` of the connected pairs, in (i, j) order. */
  def pairTensor(prepared: DataFrame, settings: GraphSettings): DataFrame =
    GraphConverter.pairs(prepared, settings)
      .groupBy(frameKeys.map(col): _*)
      .agg(
        array_sort(collect_list(struct(col("i_node_idx"), col("j_node_idx"), col("a"))))
          .as("__a_cells"),
        array_sort(collect_list(when(col("a") === 1,
          struct(col("i_node_idx"), col("j_node_idx"), col("e_features"))))).as("__e_cells"))
      .withColumn("__n", size(array_distinct(transform(col("__a_cells"), _.getField("j_node_idx")))))
      .withColumn("a", transform(sequence(lit(0), col("__n") - 1), i =>
        transform(sequence(lit(0), col("__n") - 1), j =>
          element_at(col("__a_cells"), (i * col("__n") + j + 1).cast("int")).getField("a"))))
      .withColumn("e", transform(col("__e_cells"), _.getField("e_features")))
      .drop("__a_cells", "__e_cells", "__n")
}
