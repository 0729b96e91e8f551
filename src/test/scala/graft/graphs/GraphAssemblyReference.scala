package graft.graphs

import graft.tracking.Cols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generic graph-tensor assembly that the direct-to-tensor
  * aggregates ([[graft.functions.OrderedTensorAgg]]) and the frame
  * kernel ([[graft.graphs.GraphKernel]]) replaced: the staged
  * preparation (padding or completeness filter, node index) followed by
  * `collect_list` + `array_sort` + `transform` rebuilds of `x`,
  * `object_ids`, `a` and `e`. GraphConverterSpec compares
  * [[GraphConverter.graphFrames]] against [[graphFrames]] row for row. */
object GraphAssemblyReference {
  import Cols._

  private val frameKeys = Seq(GameId, PeriodId, FrameId)

  /** [[GraphConverter.graphFrames]]'s output, assembled generically. */
  def graphFrames(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    val prepared = GraphConverter.withNodeIndex(
      if (settings.pad) GraphConverter.padFrames(df, labelCol, graphIdCol)
      else GraphConverter.removeIncompleteFrames(df))
    nodeTensor(prepared, settings, labelCol, graphIdCol)
      .join(pairTensor(prepared, settings), frameKeys)
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
