package graft.tracking

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dummy labels and graph ids (M11, `unravel/utils/utils.py:41-95`).
  *
  * The reference materializes the distinct key combinations in the
  * driver and assigns `np.random` 0/1 per combination. Here each row's
  * label is a seeded hash of its key columns, bucketed into {0, 1} (the
  * way [[graft.graphs.GraphDataset.withSplit]] buckets splits): one
  * label per key combination, the same under any partitioning, and no
  * shuffle, join or extra job. */
object Labels {
  import Cols._

  def addDummyLabels(df: DataFrame, by: Seq[String] = Seq(GameId, FrameId), seed: Long = 42L): DataFrame =
    df.withColumn(Label, pmod(xxhash64(by.map(col) :+ lit(seed): _*), lit(2L)))

  /** graph_id = concat_ws("-", by) (`utils/utils.py:73-78`). */
  def addGraphIds(df: DataFrame, by: Seq[String] = Seq(GameId, FrameId)): DataFrame =
    df.withColumn(GraphId, concat_ws("-", by.map(col): _*))
}
