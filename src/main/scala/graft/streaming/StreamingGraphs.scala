package graft.streaming

import graft.graphs.NodeOrder
import graft.tracking.Cols
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming graph conversion: per-frame graphs from a live
  * tracking feed for GNN feature serving, emitted by [[FrameCompletion]]
  * (the consumer filters incomplete frames on `n`).
  *
  * [[assemble]] is not the batch `GraphKernel`: its graph holds raw
  * coordinates and an integer adjacency over whatever rows arrived. It
  * sorts its nodes in the batch node order ([[graft.graphs.NodeOrder]],
  * bound once per stream) and uses the split_by_team + ball connect
  * adjacency.
  */
object StreamingGraphs {

  /** `timestamp` stays canonical (micros since period start, a data
    * column); `abs_ts` is the event-time axis — absolute micros,
    * monotone across periods (see [[AbsoluteTime]]). Watermarking on
    * the period-relative clock would mark all of period 2 late at
    * half-time. */
  final case class FrameRow(
      game_id: String, period_id: Int, frame_id: Long, timestamp: Long,
      abs_ts: Long,
      id: String, team_id: String, ball_owning_team_id: String,
      x: Double, y: Double, z: Double)

  final case class StreamGraph(
      game_id: String, period_id: Int, frame_id: Long, n: Int,
      object_ids: Seq[String], x: Seq[Seq[Double]], a: Seq[Seq[Int]])

  private[streaming] def assemble(
      game: String, period: Int, frame: Long, rows: Seq[FrameRow], order: NodeOrder): StreamGraph = {
    val ordered = rows
      .map(r => (order.rank(r.team_id, r.ball_owning_team_id), UTF8String.fromString(r.id), r))
      .sortWith((p, q) => NodeOrder.compare(p._1, p._2, q._1, q._2) < 0)
      .map(_._3)
    val n = ordered.size
    val a = ordered.map { ri =>
      ordered.map { rj =>
        val connected = ri.team_id == rj.team_id ||
          ri.team_id == Cols.Ball || rj.team_id == Cols.Ball
        if (connected) 1 else 0
      }
    }
    StreamGraph(game, period, frame, n,
      ordered.map(_.id),
      ordered.map(r => Seq(r.x, r.y, r.z)),
      a)
  }

  /** Frame-graph stream; event time is the absolute `abs_ts` clock
    * (bridge period-relative feeds via [[AbsoluteTime]]). */
  def graphs(rows: Dataset[FrameRow], lateness: String = "10 seconds"): Dataset[StreamGraph] = {
    val order = NodeOrder(rows.sparkSession)
    FrameCompletion(rows, lateness, (r: FrameRow) => (r.game_id, r.period_id, r.frame_id),
      (r: FrameRow) => r.abs_ts) { case ((game, period, frame), buffered) =>
      Iterator.single(assemble(game, period, frame, buffered, order))
    }
  }

  /** Convenience: graph stream as a DataFrame with flattened keys. */
  def graphStream(rows: Dataset[FrameRow], lateness: String = "10 seconds"): DataFrame =
    graphs(rows, lateness).toDF()
}
